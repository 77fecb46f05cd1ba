"""Inverted-index build pipeline (SURVEY.md §3.1 Spark translation).

Stages (reference analog: GraphIndexBuilder.build → cleanup → write,
jvector-base/.../graph/GraphIndexBuilder.java:439-511):

  1. **Stage the enriched term-frequency relation** — tokenize (JVM-side),
     tf/df/dl stats, salt assignment for hot terms — and write it to a
     staging directory hive-partitioned by ``part_id`` (deterministic hash
     bucket of (term_id, salt)). One shuffle.
  2. **Per-part encode** — for each part not yet marked complete in
     ``build_lineage``: read only that directory partition, sort within
     partitions by (term_id, salt, doc_id), and run a fully vectorized
     mapInPandas encoder that emits fused posting blocks (delta+varint
     docID gaps, varint tfs + dls inline, (max_tf, min_dl) block-max
     metadata — score bounds derive from these at query time). Each part
     commit appends a lineage row — the checkpoint unit (analog of
     OnHeapGraphIndex save/load + CheckpointManager.java:33-112, B11/B12).
     A killed build resumes by skipping completed parts; the final index is
     logically identical to a single-shot build (tested).

Skew (SURVEY.md P11): a term with df > ``salt_threshold`` is split into
``n_salts`` doc-range sub-lists — salt = doc_id * n_salts // n_docs — so a
hot term's postings land in multiple shuffle groups. Doc-range (not hash)
salting keeps every (term, salt) run sorted and doc-disjoint, which the
WAND query path exploits for block skipping.

Scale notes: per-posting dl is stored inline in each block (varint, ~1
byte) so query-time exact scoring never joins the corpus-sized doc_stats
table — the fused-feature trick (FusedPQ.java:75-122). The only
corpus-sized shuffles in the whole build are the tf groupBy and the
repartition-by-(term_id, salt).
"""

from __future__ import annotations

import os
import threading
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions.analysis import TOKEN_PATTERN
from ..operators.doc_ids import assign_dense_ids
from ..operators.text_stats import dictionary as build_dictionary
from ..operators.text_stats import doc_stats, term_freq
from .codec import varint_encode
from .storage import (
    FORMAT_VERSION,
    LINEAGE_SCHEMA,
    POSTINGS_SCHEMA,
    lineage_totals,
    local_df,
    read_local,
    read_table,
    shuffle_n,
    sized_shuffle_n,
    table_path,
    write_table,
)

SEGMENTS_SCHEMA = (
    "format_version int, n_docs long, avgdl double, k1 double, b double, "
    "block_size int, token_pattern string, n_parts int"
)

# serializes the session-global Arrow batch-size override around the encode
# write (see build_index_transcripts) across threads sharing a SparkSession
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


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte length, bounded by the array max: one compare
    pass per byte tier actually present (1-2 for tf/dl/gap data) instead of
    the 10-round masked shift loop — the encoder is memory-bandwidth-bound
    and every full-array pass shows up in multi-worker scaling."""
    nb = np.ones(v.shape, dtype=np.int64)
    vmax = int(v.max()) if v.size else 0
    k = 1
    while k < 10 and vmax >= (1 << (7 * k)):
        nb += v >= np.uint64(1 << (7 * k))
        k += 1
    return nb


def _varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode the whole array once; also return per-value byte
    lengths so callers can slice out sub-ranges without re-encoding.

    Byte planes are written per tier over the COMPRESSED subset that still
    has bytes left (values needing >j bytes), so single-byte-dominated
    data (tfs, dls, small gaps) costs ~2 passes, not 10 masked rounds."""
    v = np.asarray(values, dtype=np.uint64)
    nb = _varint_nbytes(v)
    if v.size == 0:
        return b"", nb
    ends = np.cumsum(nb)
    starts = ends - nb
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    max_nb = int(nb.max())
    for j in range(max_nb):
        if j == 0:
            idx, vj, nbj = starts, v, nb
        else:
            sel = nb > j
            idx = starts[sel] + j
            vj = v[sel]
            nbj = nb[sel]
        byte = ((vj >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        byte[nbj > j + 1] |= 0x80
        out[idx] = byte
    return out.tobytes(), nb


def encode_partition_pdf(
    pdf: pd.DataFrame, block_size: int = BLOCK_SIZE, carry_part_id: bool = False,
    presorted: bool = False,
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
    if not presorted:
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
    n = len(d)

    group_start = np.ones(n, dtype=bool)
    group_start[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    # position within (term, salt) group
    gidx = np.cumsum(group_start) - 1
    first_of_group = np.flatnonzero(group_start)
    pos = np.arange(n) - first_of_group[gidx]
    blk_in_group = pos // block_size
    block_start = group_start | (pos % block_size == 0)

    prev_d = np.empty(n, dtype=np.int64)
    prev_d[1:] = d[:-1]
    # A group's first gap is 0 and its base is the first doc itself: this
    # keeps every block's [base, max_doc_id] range tight (a base of 0 would
    # make the first block of every (term, salt) run appear to span all of
    # doc space, gutting block-max pruning).
    prev_d[group_start] = d[group_start]
    gaps = (d - prev_d).astype(np.uint64)

    id_buf, id_len = _varint_encode_with_lengths(gaps)
    tf_buf, tf_len = _varint_encode_with_lengths(tf.astype(np.uint64))
    dl_buf, dl_len = _varint_encode_with_lengths(dl.astype(np.uint64))
    id_off = np.concatenate(([0], np.cumsum(id_len)))
    tf_off = np.concatenate(([0], np.cumsum(tf_len)))
    dl_off = np.concatenate(([0], np.cumsum(dl_len)))

    starts = np.flatnonzero(block_start)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n
    # base: the group's first doc at a group's first block (gap there is 0),
    # else the last doc of the previous block
    base = np.where(starts == first_of_group[gidx[starts]], d[starts], d[starts - 1])

    out = {
        "term_id": term[starts],
        "salt": salt[starts],
        "block_id": blk_in_group[starts].astype(np.int32),
        "n": (ends - starts).astype(np.int32),
        "base": base,
        "max_doc_id": d[ends - 1],
        "max_tf": np.maximum.reduceat(tf, starts),
        "min_dl": np.minimum.reduceat(dl, starts),
        "doc_ids_packed": [
            id_buf[id_off[s] : id_off[e]] for s, e in zip(starts, ends)
        ],
        "tfs_packed": [tf_buf[tf_off[s] : tf_off[e]] for s, e in zip(starts, ends)],
        "dls_packed": [dl_buf[dl_off[s] : dl_off[e]] for s, e in zip(starts, ends)],
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


def aggregate_occurrences_pdf(
    pdf: pd.DataFrame, presorted: bool = False
) -> pd.DataFrame:
    """(part_id, term_id, salt, doc_id, dl) occurrence rows → tf rows, all
    numpy (lexsort + run-length reduce). Lets the build shuffle RAW
    occurrences once instead of paying a separate tf-groupBy exchange —
    the aggregation happens on the reduce side of the one shuffle, exactly
    where the data already sits.

    ``presorted`` = rows already ordered by (term_id, salt, doc_id) — the
    single-shot build sorts on the JVM side of the exchange (Tungsten
    radix sort, off-heap and cache-efficient), so the worker skips the
    lexsort: random-access-heavy python sorting was the build's main
    memory-bandwidth hog and the first thing to stop scaling when
    multiple workers share a socket."""
    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    doc = pdf["doc_id"].to_numpy(np.int64)
    dl = pdf["dl"].to_numpy(np.int64)
    part = pdf["part_id"].to_numpy(np.int32)
    if not presorted:
        order = np.lexsort((doc, salt, term))
        term, salt, doc, dl, part = (
            term[order], salt[order], doc[order], dl[order], part[order]
        )
    tid, sid, did, tfo, dlo, pid = _aggregate_occ_arrays(
        term, salt, doc, dl, part
    )
    return pd.DataFrame(
        {
            "part_id": pid,
            "term_id": tid,
            "salt": sid,
            "doc_id": did,
            "tf": tfo,
            "dl": dlo,
        }
    )


def _aggregate_occ_arrays(
    term: np.ndarray,
    salt: np.ndarray,
    doc: np.ndarray,
    dl: np.ndarray,
    part: np.ndarray | None,
) -> tuple:
    """Run-length tf aggregation over (term, salt, doc)-sorted arrays.
    All-unique input (tf ≡ 1 — the dominant case for short turns) skips
    the six full-size gathers entirely. ``part`` is optional: the
    narrowed-exchange build paths derive part_id JVM-side after encoding
    instead of shipping it per occurrence."""
    n = len(term)
    start = np.ones(n, dtype=bool)
    start[1:] = (
        (term[1:] != term[:-1]) | (salt[1:] != salt[:-1]) | (doc[1:] != doc[:-1])
    )
    starts = np.flatnonzero(start)
    if starts.size == n:
        return term, salt, doc, np.ones(n, dtype=np.int64), dl, part
    counts = np.diff(np.append(starts, n)).astype(np.int64)
    return (
        term[starts], salt[starts], doc[starts], counts, dl[starts],
        part[starts] if part is not None else None,
    )


def _encode_occ_map_fn(
    block_size: int, presorted: bool = False, carry_part_id: bool = True,
    packed_bits: tuple[int, int] | None = None,
    packed1_bits: tuple[int, int, int] | None = None,
):
    """mapInPandas fn: occurrence rows → in-worker tf aggregation → fused
    posting blocks (single-shuffle build path). ``presorted`` — see
    :func:`aggregate_occurrences_pdf`; Arrow batch boundaries never break
    ordering because the whole partition is concatenated first.

    The presorted path stays in numpy end-to-end (to_numpy views of the
    Arrow columns → run-length → block encode → one output DataFrame) —
    no intermediate pandas frame, no consolidation copies.

    ``carry_part_id=False`` drops part_id from the shuffled occurrence
    row entirely: it is a pure function of (term_id, salt), so shipping
    it per occurrence pays ~17 % more exchange bytes (an 8-byte UnsafeRow
    slot holding a high-entropy hash the shuffle codec cannot compress)
    for a value the caller can recompute JVM-side over the ~1000×-smaller
    block relation after encoding.

    ``packed_bits=(salt_bits, dl_bits)`` switches the input contract to
    the PACKED two-column exchange row: ``ts = term_id << salt_bits |
    salt`` and ``dd = doc_id << dl_bits | dl`` (shift widths chosen by the
    caller from driver-known maxima so nothing truncates). Two int64 slots
    instead of four halves the UnsafeRow payload the corpus-sized shuffle
    writes, reads, and sorts, and the Tungsten sort compares (ts, dd)
    pairs whose first key is a single long — lexicographically identical
    to (term_id, salt, doc_id) because the packs are order-preserving.
    tf run-length aggregation happens on the packed columns (two
    comparisons per row instead of three) and only the surviving rows are
    unpacked. Requires ``presorted`` and ``carry_part_id=False``.

    ``packed1_bits=(salt_bits, doc_bits, dl_bits)`` is the ONE-column
    variant: ``tsdd = ((term_id << salt_bits | salt) << (doc_bits +
    dl_bits)) | (doc_id << dl_bits | dl)`` — a single int64 UnsafeRow
    slot (16 B/row incl. the null bitset vs 24 B for two slots), a
    single-long Tungsten sort key, and a one-array run-length pass in the
    worker. Numerically ordering tsdd IS ordering (term_id, salt, doc_id,
    dl) because every field has a fixed driver-chosen width. Feasible
    whenever the combined widths fit 63 bits (the caller checks)."""
    if packed_bits is not None or packed1_bits is not None:
        assert presorted and not carry_part_id, "packed path is presorted-only"
        assert packed_bits is None or packed1_bits is None

    def fn_packed1(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        salt_bits, doc_bits, dl_bits = packed1_bits
        acc: list[np.ndarray] = []
        for p in it:
            if len(p):
                acc.append(p["tsdd"].to_numpy(np.int64))
        if not acc:
            yield _empty_postings_pdf(carry_part_id=False)
            return
        tsdd = acc[0] if len(acc) == 1 else np.concatenate(acc)
        if os.environ.get("JV_DEBUG"):
            if not bool((tsdd[1:] >= tsdd[:-1]).all()):
                i = int(np.flatnonzero(tsdd[1:] < tsdd[:-1])[0])
                raise AssertionError(
                    "packed1 presorted encode input violates tsdd order "
                    f"at row {i + 1}: {tsdd[i]} -> {tsdd[i+1]}"
                    " — upstream sortWithinPartitions keys drifted"
                )
        n = len(tsdd)
        start = np.ones(n, dtype=bool)
        start[1:] = tsdd[1:] != tsdd[:-1]
        starts = np.flatnonzero(start)
        if starts.size == n:
            tfo = np.ones(n, dtype=np.int64)
        else:
            tfo = np.diff(np.append(starts, n)).astype(np.int64)
            tsdd = tsdd[starts]
        dd_width = doc_bits + dl_bits
        ts = tsdd >> dd_width
        tid = ts >> salt_bits
        sid = (ts & ((1 << salt_bits) - 1)).astype(np.int32)
        dd = tsdd & ((1 << dd_width) - 1)
        did = dd >> dl_bits
        dlo = dd & ((1 << dl_bits) - 1)
        out = _encode_sorted_arrays(tid, sid, did, tfo, dlo, None, block_size)
        res = pd.DataFrame(out)
        res["salt"] = res["salt"].astype("int32")
        yield res

    if packed1_bits is not None:
        return fn_packed1

    def fn_packed(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        salt_bits, dl_bits = packed_bits
        ts_acc: list[np.ndarray] = []
        dd_acc: list[np.ndarray] = []
        for p in it:
            if len(p):
                ts_acc.append(p["ts"].to_numpy(np.int64))
                dd_acc.append(p["dd"].to_numpy(np.int64))
        if not ts_acc:
            yield _empty_postings_pdf(carry_part_id=False)
            return
        ts = ts_acc[0] if len(ts_acc) == 1 else np.concatenate(ts_acc)
        dd = dd_acc[0] if len(dd_acc) == 1 else np.concatenate(dd_acc)
        if os.environ.get("JV_DEBUG"):
            ok = (ts[1:] > ts[:-1]) | ((ts[1:] == ts[:-1]) & (dd[1:] >= dd[:-1]))
            if not bool(ok.all()):
                i = int(np.flatnonzero(~ok)[0])
                raise AssertionError(
                    "packed presorted encode input violates (ts, dd) order "
                    f"at row {i + 1}: {(ts[i], dd[i])} -> {(ts[i+1], dd[i+1])}"
                    " — upstream sortWithinPartitions keys drifted"
                )
        n = len(ts)
        start = np.ones(n, dtype=bool)
        start[1:] = (ts[1:] != ts[:-1]) | (dd[1:] != dd[:-1])
        starts = np.flatnonzero(start)
        if starts.size == n:
            tfo = np.ones(n, dtype=np.int64)
        else:
            tfo = np.diff(np.append(starts, n)).astype(np.int64)
            ts, dd = ts[starts], dd[starts]
        tid = ts >> salt_bits
        sid = (ts & ((1 << salt_bits) - 1)).astype(np.int32)
        did = dd >> dl_bits
        dlo = dd & ((1 << dl_bits) - 1)
        out = _encode_sorted_arrays(tid, sid, did, tfo, dlo, None, block_size)
        res = pd.DataFrame(out)
        res["salt"] = res["salt"].astype("int32")
        yield res

    if packed_bits is not None:
        return fn_packed

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-column np.concatenate over the Arrow batches, NOT pd.concat:
        # pandas consolidation would copy all 5 columns into one 2D block
        # (strided writes — pure memory-bandwidth burn in every worker)
        cols: dict[str, list[np.ndarray]] = {
            "term_id": [], "salt": [], "doc_id": [], "dl": []
        }
        dts = {
            "part_id": np.int32, "term_id": np.int64, "salt": np.int32,
            "doc_id": np.int64, "dl": np.int64,
        }
        if carry_part_id:
            cols = {"part_id": [], **cols}
        n_rows = 0
        for p in it:
            if len(p) == 0:
                continue
            n_rows += len(p)
            for c, acc in cols.items():
                acc.append(p[c].to_numpy(dts[c]))
        if n_rows == 0:
            yield _empty_postings_pdf(carry_part_id=carry_part_id)
            return
        arr = {
            c: (acc[0] if len(acc) == 1 else np.concatenate(acc))
            for c, acc in cols.items()
        }
        if not presorted:
            order = np.lexsort((arr["doc_id"], arr["salt"], arr["term_id"]))
            arr = {c: a[order] for c, a in arr.items()}
        elif os.environ.get("JV_DEBUG"):
            # presorted=True TRUSTS that the upstream sortWithinPartitions
            # keys match this worker's (term_id, salt, doc_id) grouping; if
            # a later edit drifts the sort contract, negative doc gaps wrap
            # to huge uint64 varints and the build emits corrupted blocks
            # SILENTLY. This debug-gated check makes that drift fail loudly
            # (run the suite once with JV_DEBUG=1 after touching the sort).
            t_, s_, d_ = arr["term_id"], arr["salt"], arr["doc_id"]
            tie_t = t_[1:] == t_[:-1]
            tie_ts = tie_t & (s_[1:] == s_[:-1])
            ok = (
                (t_[1:] > t_[:-1])
                | (tie_t & (s_[1:] > s_[:-1]))
                | (tie_ts & (d_[1:] >= d_[:-1]))
            )
            if not bool(ok.all()):
                i = int(np.flatnonzero(~ok)[0])
                raise AssertionError(
                    "presorted encode input violates (term_id, salt, "
                    f"doc_id) order at row {i + 1}: "
                    f"{(t_[i], s_[i], d_[i])} -> {(t_[i+1], s_[i+1], d_[i+1])}"
                    " — upstream sortWithinPartitions keys drifted"
                )
        tid, sid, did, tfo, dlo, pid = _aggregate_occ_arrays(
            arr["term_id"], arr["salt"], arr["doc_id"], arr["dl"],
            arr["part_id"] if carry_part_id else None,
        )
        out = _encode_sorted_arrays(tid, sid, did, tfo, dlo, pid, block_size)
        res = pd.DataFrame(out)
        res["salt"] = res["salt"].astype("int32")
        if carry_part_id:
            res["part_id"] = res["part_id"].astype("int32")
        yield res

    return fn


def _encode_map_fn(block_size: int, carry_part_id: bool = False):
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Concatenate the partition's Arrow batches: groups are confined to
        # one partition by the repartition(term_id, salt) upstream, but may
        # span batches within it. Memory = one shuffle partition (sized via
        # spark.sql.shuffle.partitions).
        batches = [p for p in it]
        if not batches:
            yield _empty_postings_pdf(carry_part_id)
            return
        yield encode_partition_pdf(
            pd.concat(batches, ignore_index=True), block_size, carry_part_id
        )

    return fn


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
    keep_staging: bool = False,
    checkpointed: bool = True,
    exact_df_salts: bool = False,
) -> dict:
    """Build (or resume) the full index at ``index_dir``. Returns build
    metrics. ``fail_after_parts`` injects a crash after that many part
    commits (for resume tests — the analog of the reference's checkpoint
    kill/restart tests).

    ``checkpointed=False`` is the single-shot fast path: no staging
    materialization, one encode+write job covering every part (still hive-
    partitioned by part_id, so the on-disk layout and every query path are
    identical). Use it when the job-level retry (rerun the whole build) is
    an acceptable failure-domain — e.g. moderate corpora or benchmarking;
    the checkpointed path costs one extra corpus-sized write+read plus a
    fixed ~1s of driver scheduling per part, which buys partition-level
    restart (B11/B12).

    ``exact_df_salts`` (single-shot only) derives the hot-term salt plan
    from df (distinct docs per term) exactly as the checkpointed path
    does, instead of the default cf (total occurrences ≥ df): the block
    layout then matches the checkpointed build byte-for-byte. It costs a
    countDistinct expansion in the vocabulary aggregate, so it is opt-in
    — the fused transcripts build keeps the cheaper cf plan."""
    if not checkpointed:
        return _build_index_single_shot(
            corpus, index_dir, text_col, id_col, doc_map_cols, k1, b,
            block_size, salt_threshold, target_salt_postings, n_parts,
            exact_df_salts=exact_df_salts,
        )
    spark = corpus.sparkSession
    staging_dir = os.path.join(index_dir, "_staging_tf")
    lineage_path = table_path(index_dir, "build_lineage")

    stage1_done = resume and os.path.exists(
        os.path.join(index_dir, "segments", "_SUCCESS")
    )
    if not stage1_done:
        corpus = corpus.persist()
        tf = term_freq(corpus, text_col, id_col)
        dstats = doc_stats(corpus, text_col, id_col)
        n_docs, avgdl = dstats.agg(
            F.count("*"), F.avg("dl")
        ).collect()[0]
        n_docs, avgdl = int(n_docs), float(avgdl)

        dct = build_dictionary(tf, id_col=id_col).withColumn(
            "n_salts",
            F.when(
                F.col("df") > salt_threshold,
                F.ceil(F.col("df") / F.lit(target_salt_postings)).cast("int"),
            ).otherwise(F.lit(1)),
        )
        # the three stage-1 artifacts share no dependency — submit the two
        # side tables from background threads so the quota'd cores stay
        # busy instead of draining one small write at a time (same
        # overlap as _build_index_single_shot; outputs byte-identical)
        bg = [_bg_job(lambda: write_table(dstats, index_dir, "doc_stats"))]
        if doc_map_cols:
            dm_sel = corpus.select(id_col, *doc_map_cols)
            bg.append(_bg_job(lambda: write_table(dm_sel, index_dir, "doc_map")))
        write_table(dct, index_dir, "dictionary")
        for th, holder in bg:
            _bg_join(th, holder)

        dct_r = read_table(spark, index_dir, "dictionary")
        enriched = (
            tf.join(dct_r.select("term", "term_id", "n_salts"), "term")
            .join(dstats, id_col)
            .withColumn(
                "salt",
                F.least(
                    (F.col(id_col) * F.col("n_salts") / F.lit(n_docs)).cast("int"),
                    F.col("n_salts") - 1,
                ).cast("int"),
            )
            .withColumn(
                "part_id",
                F.pmod(F.xxhash64("term_id", "salt"), F.lit(n_parts)).cast("int"),
            )
            .select(
                "part_id", "term_id", "salt",
                F.col(id_col).alias("doc_id"), "tf", "dl",
            )
        )
        enriched.write.mode("overwrite").partitionBy("part_id").parquet(staging_dir)

        seg = local_df(
            spark,
            [
                (
                    FORMAT_VERSION, n_docs, avgdl, float(k1), float(b),
                    int(block_size), TOKEN_PATTERN, int(n_parts),
                )
            ],
            SEGMENTS_SCHEMA,
        )
        write_table(seg, index_dir, "segments")  # stage-1 completion marker
        corpus.unpersist()

    done_parts: set[int] = set()
    lineage_rows = read_local(index_dir, "build_lineage") if resume else None
    if lineage_rows is not None:
        done_parts = {
            r["part_id"] for r in lineage_rows.to_pylist() if r["status"] == "complete"
        }

    # per-part distinct doc counts in ONE column-pruned job (not one per
    # part): lineage metadata must never multiply the job count — at 10^5
    # parts the per-part fixed job-submission cost would dominate the build
    todo = [p for p in range(n_parts) if p not in done_parts]
    part_docs: dict[int, int] = {}
    if todo and os.path.exists(staging_dir):
        part_docs = {
            r.part_id: r.docs
            for r in spark.read.parquet(staging_dir)
            .groupBy("part_id")
            .agg(F.countDistinct("doc_id").alias("docs"))
            .collect()
        }

    committed = 0
    for p in todo:
        part_src = os.path.join(staging_dir, f"part_id={p}")
        if not os.path.exists(part_src):
            # empty hash bucket — record it complete so resume skips it
            local_df(spark, [(p, 0, 0, 0, "complete")], LINEAGE_SCHEMA).write.mode(
                "append"
            ).parquet(lineage_path)
            committed += 1
            continue
        part = spark.read.parquet(part_src)
        # lineage metrics observed during the write itself (no re-read pass)
        obs = Observation(f"part_{p}_metrics")
        blocks = (
            part.repartition(shuffle_n(part), "term_id", "salt")
            .mapInPandas(_encode_map_fn(block_size), schema=POSTINGS_SCHEMA)
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
        out_path = os.path.join(table_path(index_dir, "postings"), f"part_id={p}")
        blocks.write.mode("overwrite").parquet(out_path)
        m = obs.get
        lineage_row = local_df(
            spark,
            [
                (
                    p, int(part_docs.get(p, 0)), int(m["postings"]),
                    int(m["bytes"]), "complete",
                )
            ],
            LINEAGE_SCHEMA,
        )
        lineage_row.write.mode("append").parquet(lineage_path)
        committed += 1
        if fail_after_parts is not None and committed >= fail_after_parts:
            raise RuntimeError(f"injected failure after {committed} part commits")

    if not keep_staging:
        import shutil

        shutil.rmtree(staging_dir, ignore_errors=True)

    postings_emitted, bytes_compressed = lineage_totals(index_dir)
    return {
        "parts": n_parts,
        "parts_built": committed,
        "postings_emitted": postings_emitted,
        "bytes_compressed": bytes_compressed,
    }


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
    deterministic-range pin), caches it again inside the build, and caches
    the *exploded* occurrence relation a third time — at 2→8 cores the
    measured build-scaling efficiency was 0.40 because the timed region was
    dominated by this cache traffic, which saturates a single box's memory
    bandwidth long before the cores do. Here exactly one relation is ever
    cached — (_pid, order_cols, token array), raw text already projected
    away — the scan reads text bytes once, and occurrences are re-derived
    from the cached arrays by the two consumers (a vocabulary aggregate and
    the single corpus-sized shuffle). Same output index, byte-for-byte
    (equivalence-tested)."""
    from ..functions.analysis import tokens_col

    pins: list = []
    keep = [c for c in (doc_map_cols or []) if c not in order_cols]
    phases: list = []
    t0 = time.perf_counter()
    pre = assign_dense_ids(
        src,
        order_cols,
        "doc_id",
        pins=pins,
        pre_persist=lambda d: d.select(
            "_pid", *order_cols, *keep, tokens_col(text_col).alias("_toks")
        ),
    )
    # assign_dense_ids materializes eagerly (range-sampling job + tokenize
    # + cache populate + per-partition count collect), so this bracket is
    # a real phase boundary, not lazy-plan time
    phases.append(("ids_tokenize_cache", time.perf_counter() - t0))
    if id_offset:
        pre = pre.withColumn("doc_id", F.col("doc_id") + F.lit(int(id_offset)))
    try:
        return _build_index_single_shot(
            pre, index_dir, text_col, "doc_id", doc_map_cols, k1, b,
            block_size, salt_threshold, target_salt_postings, n_parts,
            toks_col="_toks", id_offset=id_offset, phases=phases,
        )
    finally:
        for p in pins:
            p.unpersist()


def _build_index_single_shot(
    corpus: DataFrame,
    index_dir: str,
    text_col: str,
    id_col: str,
    doc_map_cols: list[str] | None,
    k1: float,
    b: float,
    block_size: int,
    salt_threshold: int,
    target_salt_postings: int,
    n_parts: int,
    toks_col: str | None = None,
    id_offset: int = 0,
    phases: list | None = None,
    exact_df_salts: bool = False,
) -> dict:
    """Fast path: 3-4 Spark jobs total, no staging round-trip.

    Jobs: (1) doc_stats write with n_docs/avgdl observed on the same pass,
    (2) term-level pre-dictionary (term_id + cf + salt plan) off a
    map-combined aggregate, (3) optional doc_map write, (4) THE shuffle:
    raw (term_id, salt, doc_id, dl) occurrences repartitioned by
    (part_id, term_id, salt), tf aggregated IN the vectorized encoder,
    blocks written (metrics observed in-flight), (5) dictionary finalized
    with exact df summed from the blocks' meta columns (column-pruned
    scan, never touches the packed payloads).

    Single-shuffle design: a separate tf-groupBy exchange would move the
    same ~N_postings rows once more; aggregating on the reduce side of the
    one term-partitioned shuffle halves corpus-sized shuffle volume — the
    difference between one and two full passes over 100 TB. ``n_salts``
    derives from cf (≥ df), so hot terms split at least as much as the
    df-based checkpointed path — slight over-salting is harmless (blocks
    stay doc-range-disjoint), under-salting would not be.

    The output layout is scheme-identical to the checkpointed path
    (equivalence is tested)."""
    spark = corpus.sparkSession
    from pyspark import StorageLevel

    from ..functions.analysis import tokens_col

    own_persists: list = []
    if toks_col is None:
        # tokenize EXACTLY once into a narrow cached projection (doc_id,
        # token array [, doc_map cols]) — the SAME shape the fused
        # transcripts path pins. Every consumer re-derives what it needs
        # from the cached arrays: doc_stats is size(_toks) (no
        # occurrence-groupBy + corpus join — that shape paid one extra
        # corpus-sized shuffle purely to recover dl, and empty docs now
        # carry empty arrays for free), the vocabulary aggregate and the
        # encode exchange explode lazily (two cheap explodes beat caching
        # the 30×-wider exploded relation; at cluster scale
        # MEMORY_AND_DISK spills gracefully instead of OOMing).
        keep = [c for c in (doc_map_cols or []) if c != id_col]
        corpus = corpus.select(
            F.col(id_col), tokens_col(text_col).alias("_toks"), *keep
        ).persist(StorageLevel.MEMORY_AND_DISK)
        own_persists.append(corpus)
        toks_col = "_toks"
        occ = corpus.select(
            F.col(id_col).alias("doc_id"),
            F.size("_toks").alias("dl"),
            F.explode("_toks").alias("term"),
        )
        dstats = corpus.select(
            F.col(id_col).alias("doc_id"), F.size("_toks").cast("long").alias("dl")
        )
        # the cache is populated by the FIRST consumer (the sequential
        # doc_stats write below), unlike the fused path where the caller
        # materialized it eagerly — keep overlap off (see ds_thread gate)
        overlap_stats = False
    else:
        # pre-tokenized fused path (build_index_transcripts): the caller
        # already pinned the narrow token relation — occurrences are
        # RE-DERIVED lazily from the cached arrays by each consumer (two
        # cheap explodes beat caching the 30×-wider exploded relation), and
        # doc_stats needs no join (empty docs carry empty arrays)
        occ = corpus.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks_col).alias("dl"),
            F.explode(toks_col).alias("term"),
        )
        dstats = corpus.select(
            F.col(id_col).alias("doc_id"), F.size(toks_col).cast("long").alias("dl")
        )
        overlap_stats = True
    if phases is None:
        phases = []

    def _tick(name: str, t0: float) -> None:
        phases.append((name, time.perf_counter() - t0))

    obs_stats = Observation("corpus_stats")
    dstats = dstats.observe(
        obs_stats, F.count("*").alias("n"), F.avg("dl").alias("avgdl"),
        # doc_id/dl maxima ride the same pass for free: they size the
        # packed exchange row's shift widths (and gate its feasibility)
        F.max("dl").alias("max_dl"),
        F.max("doc_id").alias("max_doc"), F.min("doc_id").alias("min_doc"),
    )
    # doc_map is independent of every other pre-encode artifact (it reads
    # only the cached corpus projection), so its write overlaps the
    # doc_stats/term_ids/pack critical path instead of serializing behind
    # it (phase wall times below therefore overlap; build_sec is the truth)
    dm_thread = dm_holder = None
    if doc_map_cols:
        dm_sel = corpus.select(id_col, *doc_map_cols)

        def _write_doc_map() -> None:
            t_dm = time.perf_counter()
            write_table(dm_sel, index_dir, "doc_map")
            _tick("doc_map_write", t_dm)

        dm_thread, dm_holder = _bg_job(_write_doc_map)
    # doc_stats and the term-id pre-dictionary are independent jobs over
    # the SAME populated cache: on the fused path (overlap_stats — the
    # token relation was materialized by assign_dense_ids upstream) the
    # doc_stats write runs from a background thread so its wall overlaps
    # the term_ids phase. A >1-core leg back-fills idle cores with the
    # second job's tasks (guide-§2.6 overlap); a 1-core leg simply runs
    # them back to back, so the overlap only ever improves the serial
    # share. The self-tokenizing path keeps the sequential order: its
    # first consumer POPULATES the token cache, and two concurrent first
    # consumers would tokenize every partition twice.
    ds_thread = ds_holder = None

    def _write_doc_stats() -> None:
        t_ds = time.perf_counter()
        write_table(dstats, index_dir, "doc_stats")
        _tick("doc_stats_write", t_ds)

    if overlap_stats:
        ds_thread, ds_holder = _bg_job(_write_doc_stats)
    else:
        _write_doc_stats()
        st = obs_stats.get

    # pre-dictionary: term_id (dense, lexicographic) + cf + salt plan; one
    # aggregated shuffle whose output is vocabulary-, not corpus-, sized.
    # With exact_df_salts the aggregate also carries countDistinct(doc_id)
    # so n_salts (and therefore the block layout) matches the checkpointed
    # path's df-based plan exactly — and the final dictionary df needs no
    # post-encode recompute pass.
    agg_cols = [F.count("*").cast("long").alias("cf")]
    if exact_df_salts:
        agg_cols.append(F.countDistinct("doc_id").cast("long").alias("df"))
    dct_pre = (
        occ.groupBy("term")
        .agg(*agg_cols)
        .withColumn(
            "n_salts",
            F.when(
                F.col("df" if exact_df_salts else "cf") > salt_threshold,
                F.ceil(
                    F.col("df" if exact_df_salts else "cf")
                    / F.lit(target_salt_postings)
                ).cast("int"),
            ).otherwise(F.lit(1)),
        )
    )
    pins: list = []
    t = time.perf_counter()
    # vocabulary size + max n_salts ride assign_dense_ids' own count
    # collect (no separate pack-plan aggregate job)
    nv_out: list = []
    mx_out: dict = {}
    dct_pre = assign_dense_ids(
        dct_pre, ["term"], id_col="term_id", pins=pins,
        n_out=nv_out, max_of={"n_salts": F.col("n_salts")}, max_out=mx_out,
    ).persist()
    _tick("term_ids", t)
    if ds_thread is not None:
        _bg_join(ds_thread, ds_holder)
        st = obs_stats.get
    n_docs, avgdl = int(st["n"]), float(st["avgdl"])
    max_dl = int(st["max_dl"] or 0)
    max_doc, min_doc = int(st["max_doc"] or 0), int(st["min_doc"] or 0)

    enriched = (
        occ.join(F.broadcast(dct_pre.select("term", "term_id", "n_salts")), "term")
        # salt from the SHARD-LOCAL rank (doc_id - id_offset): a sharded
        # build's ids start at its global offset, and salting must span the
        # shard's own [0, n_docs) range to keep doc-range sub-lists balanced
        .withColumn(
            "salt",
            F.least(
                ((F.col("doc_id") - F.lit(int(id_offset))) * F.col("n_salts")
                 / F.lit(n_docs)).cast("int"),
                F.col("n_salts") - 1,
            ).cast("int"),
        )
    )
    # PACKED exchange row: ts = term_id << salt_bits | salt, dd = doc_id
    # << dl_bits | dl — two int64 slots instead of four halves the
    # UnsafeRow payload the corpus-sized shuffle writes/reads/sorts, and
    # both packs are order-preserving, so sorting (ts, dd) IS sorting
    # (term_id, salt, doc_id). Shift widths come from driver-known maxima
    # (vocab size + max n_salts off the cached pre-dictionary, max dl /
    # doc_id observed on the doc_stats pass); if the input could overflow
    # a 63-bit pack (absurd ids) the build falls back to the 4-column row.
    t = time.perf_counter()
    vocab_n = int(nv_out[0])
    max_salts = int(mx_out.get("n_salts") or 1)
    salt_bits = max(1, (max(max_salts - 1, 1)).bit_length())
    dl_bits = max(1, max(max_dl, 1).bit_length())
    doc_bits = max(1, max(max_doc, 1).bit_length())
    max_ts = ((vocab_n - 1) << salt_bits) + (1 << salt_bits) - 1
    packable = (
        min_doc >= 0
        and max_ts < (1 << 63)
        and (max_doc << dl_bits) + max_dl < (1 << 63)
    )
    # ONE-column pack when every field fits 63 bits together: 16 B/row
    # through the corpus-sized exchange instead of 24, and a single-long
    # sort key (JV_PACK=2 forces the two-column row for A/B runs)
    packable1 = (
        packable
        and os.environ.get("JV_PACK") != "2"
        and (max_ts << (doc_bits + dl_bits)) + (1 << (doc_bits + dl_bits)) - 1
        < (1 << 63)
    )
    phases.append(("pack_plan", time.perf_counter() - t))
    if dm_thread is not None:
        # join before the encode write: the Arrow batch-size override below
        # is session-global, and the corpus-sized exchange deserves the
        # whole quota anyway
        _bg_join(dm_thread, dm_holder)
    if packable1:
        dd_width = doc_bits + dl_bits
        enriched = enriched.select(
            (
                F.shiftleft(
                    F.shiftleft("term_id", salt_bits) + F.col("salt").cast("long"),
                    dd_width,
                )
                + F.shiftleft(F.col("doc_id"), dl_bits)
                + F.col("dl")
            ).alias("tsdd"),
        )
        # partition on the ts prefix (injective in (term, salt)): same
        # group co-location and hot-term salt spreading as the 2-col row
        part_cols = [F.shiftright("tsdd", dd_width)]
        sort_cols = ["tsdd"]
        encode_fn = _encode_occ_map_fn(
            block_size, presorted=True, carry_part_id=False,
            packed1_bits=(salt_bits, doc_bits, dl_bits),
        )
    elif packable:
        enriched = enriched.select(
            (F.shiftleft("term_id", salt_bits)
             + F.col("salt").cast("long")).alias("ts"),
            (F.shiftleft(F.col("doc_id"), dl_bits)
             + F.col("dl")).alias("dd"),
        )
        # ts is injective in (term_id, salt), so partitioning on it alone
        # both co-locates each (term, salt) group and still SPLITS a hot
        # term's salts across partitions
        part_cols, sort_cols = ["ts"], ["ts", "dd"]
        encode_fn = _encode_occ_map_fn(
            block_size, presorted=True, carry_part_id=False,
            packed_bits=(salt_bits, dl_bits),
        )
    else:
        enriched = enriched.select("term_id", "salt", "doc_id", "dl")
        part_cols = ["term_id", "salt"]
        sort_cols = ["term_id", "salt", "doc_id"]
        encode_fn = _encode_occ_map_fn(
            block_size, presorted=True, carry_part_id=False
        )
    obs = Observation("build_metrics")
    blocks = (
        # sort on the JVM side of the exchange: Tungsten's off-heap sort is
        # cache-efficient and keeps scaling when several workers share a
        # socket, so the Arrow worker gets run-length-reducible input and
        # never sorts (presorted=True) — the python lexsort it replaces was
        # the build's main memory-bandwidth hog.
        # part_id = pmod(xxhash64(term_id, salt), n_parts) is recomputed
        # below over the ~block_size×-smaller block relation — shipping it
        # per occurrence cost ~17 % more exchange bytes for a high-entropy
        # value the codec can't compress.
        # partition count derived from the observed occurrence count
        # (n_docs × avgdl), capped at the configured cluster-sized value:
        # tiny corpora stop paying 32 task+worker fixed costs per build
        enriched.repartition(
            sized_shuffle_n(enriched, n_docs * avgdl), *part_cols
        )
        .sortWithinPartitions(*sort_cols)
        .mapInPandas(encode_fn, schema=POSTINGS_SCHEMA)
        .withColumn(
            "part_id",
            F.pmod(F.xxhash64("term_id", "salt"), F.lit(n_parts)).cast("int"),
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
    t = time.perf_counter()
    # large Arrow batches for the encode exchange only: occurrence rows are
    # ~40 B wide, so 128k-row batches are ~5 MB — far fewer IPC round-trips
    # and allocator churn per partition. Scoped + restored so mapInPandas
    # surfaces with wide rows (multimodal binary) keep the session default.
    # _ARROW_BATCH_LOCK: the override mutates session-global runtime conf;
    # two concurrent builds sharing one SparkSession would otherwise race
    # the set/restore and could leave 128k batches applied to an unrelated
    # wide-row mapInPandas job (ADVICE r4)
    arrow_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    with _ARROW_BATCH_LOCK:
        try:
            arrow_prev = spark.conf.get(arrow_key)
        except Exception:  # noqa: BLE001
            arrow_prev = None
        spark.conf.set(arrow_key, os.environ.get("JV_ARROW_BATCH", "131072"))
        try:
            blocks.write.mode("overwrite").partitionBy("part_id").parquet(
                table_path(index_dir, "postings")
            )
        finally:
            if arrow_prev is None:
                spark.conf.unset(arrow_key)
            else:
                spark.conf.set(arrow_key, arrow_prev)
    _tick("encode_shuffle_write", t)
    m = obs.get

    if exact_df_salts:
        # df already exact in the pre-dictionary (countDistinct) — no
        # post-encode recompute pass over the postings meta needed
        dct_final = dct_pre.select("term", "term_id", "df", "cf", "n_salts")
    else:
        # finalize dictionary: exact df from block meta (column-pruned scan)
        dfreq = (
            read_table(spark, index_dir, "postings")
            .groupBy("term_id")
            .agg(F.sum("n").cast("long").alias("df"))
        )
        dct_final = dct_pre.join(dfreq, "term_id").select(
            "term", "term_id", "df", "cf", "n_salts"
        )
    # lineage + segments depend only on the (already-observed) encode
    # metrics, not on the dictionary — overlap them with the dictionary
    # finalize. One job-level lineage row (part_id = -1 marks "all parts,
    # one commit").
    def _write_meta() -> None:
        t_m = time.perf_counter()
        local_df(
            spark,
            [(-1, n_docs, int(m["postings"]), int(m["bytes"]), "complete")],
            LINEAGE_SCHEMA,
        ).write.mode("overwrite").parquet(table_path(index_dir, "build_lineage"))
        seg = local_df(
            spark,
            [
                (
                    FORMAT_VERSION, n_docs, avgdl, float(k1), float(b),
                    int(block_size), TOKEN_PATTERN, int(n_parts),
                )
            ],
            SEGMENTS_SCHEMA,
        )
        write_table(seg, index_dir, "segments")
        _tick("meta_writes", t_m)

    meta_thread, meta_holder = _bg_job(_write_meta)
    t = time.perf_counter()
    write_table(dct_final, index_dir, "dictionary")
    _tick("dictionary_write", t)
    _bg_join(meta_thread, meta_holder)
    dct_pre.unpersist()
    for p in pins:
        p.unpersist()
    for p in own_persists:
        p.unpersist()
    return {
        "parts": n_parts,
        "parts_built": n_parts,
        "postings_emitted": int(m["postings"]),
        "bytes_compressed": int(m["bytes"]),
        "phase_secs": {k: round(v, 3) for k, v in phases},
    }
