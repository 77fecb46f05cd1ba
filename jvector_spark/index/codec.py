"""Posting-block codec: delta-encoded docID gaps + LEB128 varint packing,
vectorized in numpy (no per-element Python loops on the hot path). This
module is the one place that knows the block wire format: the postings
encoder (``build``), the positions encoder (``positions``) and every
block read (the WAND kernel, and ``query.decoded`` under the relational,
boolean and positional reads and compaction) call it.

This is the text-domain analog of the reference's lossy PQ encode/decode
(jvector-base/.../quantization/ProductQuantization.java:244-446, surveyed
C2/C3) — except ours is *lossless*: decode(encode(x)) == x exactly, enforced
by property tests (mirroring the reference's round-trip suite,
jvector-tests/.../TestCompressedVectors.java:43-116).

Wire format per posting block (at most ``block_size`` postings of one
(term, salt) run, sorted by doc id):
    doc_ids_packed: varint(gap_0), varint(gap_1), ...   gap_0 = doc_ids[0] - base
    tfs_packed:     varint(tf_0), varint(tf_1), ...
    dls_packed:     varint(dl_0), varint(dl_1), ...
where base is the run's first doc id for the run's first block (so its
gap_0 is 0 and the block's [base, max_doc_id] range stays tight) and the
previous block's max_doc_id otherwise. Gaps within a block are strictly
positive except gap_0.

LEB128: little-endian 7-bit groups, high bit = continuation.

Encode: :func:`block_layout` cuts sorted rows into blocks,
:func:`pack_blocks` varint-encodes a column once and slices it per block.
Decode: :func:`unpack_blocks` decodes any set of a column's blocks as one
flat buffer and :func:`rebase` restarts the prefix sums per block;
:func:`decode_blocks` is the one postings decoder built from them, and
:func:`decode_position_blocks` the one positions decoder (the positions
wire format is in ``index.positions``).
"""

from __future__ import annotations

import numpy as np


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


def varint_encode(values: np.ndarray) -> tuple[bytes, np.ndarray]:
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


def varint_decode(buf: bytes, n: int) -> np.ndarray:
    """Vectorized LEB128 decode of exactly n values from buf."""
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    b = np.frombuffer(buf, dtype=np.uint8)
    is_terminal = (b & 0x80) == 0
    # index of each value's terminal byte; value i spans (prev_end, end_i]
    ends = np.flatnonzero(is_terminal)[:n]
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    maxlen = int(lengths.max())
    vals = np.zeros(n, dtype=np.uint64)
    for k in range(maxlen):  # ≤10 rounds, vectorized across values
        take = lengths > k
        vals[take] |= (b[starts[take] + k] & np.uint64(0x7F)).astype(np.uint64) << np.uint64(
            7 * k
        )
    return vals


def block_layout(
    term: np.ndarray, salt: np.ndarray, d: np.ndarray, block_size: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Cut rows sorted by (term, salt, doc) into posting blocks: each
    (term, salt) run splits every ``block_size`` rows. Returns the blocks'
    ``starts`` and ``ends`` (row offsets, end exclusive), ``block_id``
    (position in the run), the rows' doc ``gaps`` (uint64) and the blocks'
    ``base``."""
    n = len(d)
    group_start = np.ones(n, dtype=bool)
    group_start[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    # position within (term, salt) group
    gidx = np.cumsum(group_start) - 1
    first_of_group = np.flatnonzero(group_start)
    pos = np.arange(n) - first_of_group[gidx]
    block_start = group_start | (pos % block_size == 0)

    prev_d = np.empty(n, dtype=np.int64)
    prev_d[1:] = d[:-1]
    # A group's first gap is 0 and its base is the first doc itself: this
    # keeps every block's [base, max_doc_id] range tight (a base of 0 would
    # make the first block of every (term, salt) run appear to span all of
    # doc space, gutting block-max pruning).
    prev_d[group_start] = d[group_start]
    gaps = (d - prev_d).astype(np.uint64)

    starts = np.flatnonzero(block_start)
    ends = np.empty_like(starts)
    ends[:-1] = starts[1:]
    ends[-1] = n
    # base: the group's first doc at a group's first block (gap there is 0),
    # else the last doc of the previous block
    base = np.where(starts == first_of_group[gidx[starts]], d[starts], d[starts - 1])
    block_id = (pos[starts] // block_size).astype(np.int32)
    return starts, ends, block_id, gaps, base


def pack_blocks(values: np.ndarray, starts: np.ndarray, ends: np.ndarray) -> list[bytes]:
    """Varint-encode ``values`` once and slice the bytes of each block's
    rows ``[starts[i], ends[i])``."""
    buf, nb = varint_encode(values)
    off = np.concatenate(([0], np.cumsum(nb)))
    return [buf[off[s] : off[e]] for s, e in zip(starts, ends)]


def unpack_blocks(packed, total: int, rows: np.ndarray | None = None) -> np.ndarray:
    """Inverse of :func:`pack_blocks`: the ``total`` int64 values of the
    blocks ``rows`` (all when None) of a packed column, decoded as one flat
    buffer."""
    col = np.asarray(packed, dtype=object)
    if rows is not None:
        col = col[rows]
    return varint_decode(b"".join(col), total).astype(np.int64)


def rebase(deltas: np.ndarray, counts: np.ndarray, base: np.ndarray | None = None) -> np.ndarray:
    """Prefix sums of ``deltas`` restarted at each segment of ``counts``
    rows (every count ≥ 1), plus the segment's ``base``: one global cumsum,
    rebased per segment. Decodes a flat run of blocks' doc gaps
    (segments = blocks) and of docs' position deltas (segments = docs)."""
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    c = np.cumsum(deltas)
    out = c - np.repeat(c[starts] - deltas[starts], counts)
    if base is not None:
        out += np.repeat(base, counts)
    return out


def decode_blocks(
    frame, rows: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode the posting blocks ``rows`` of ``frame`` (all blocks when
    None) into flat int64 ``(row_idx, doc_id, tf, dl)``: ``row_idx`` is each
    posting's block row, and postings come in ``rows`` order, each block's
    in doc order. ``frame`` maps the block columns ``n``, ``base`` and the
    three packed columns to arrays (a pandas frame or a dict of numpy
    arrays). Three varint calls decode every block at once — the
    bulk-decode analog of the reference's fused SIMD scoring
    (FusedPQDecoder / jvector_simd.c bulk kernels)."""
    ns = np.asarray(frame["n"])
    if rows is None:
        rows = np.arange(len(ns))
    counts = ns[rows].astype(np.int64)
    total = int(counts.sum())
    if total == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    gaps, tf, dl = (
        unpack_blocks(frame[c], total, rows)
        for c in ("doc_ids_packed", "tfs_packed", "dls_packed")
    )
    docs = rebase(gaps, counts, np.asarray(frame["base"])[rows])
    return np.repeat(rows, counts), docs, tf, dl


def decode_position_blocks(frame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode every positions block of ``frame`` (its ``n``, ``base``,
    ``n_occ`` and three packed columns) into flat int64 ``(row_idx, doc_id,
    pos)``, one row per occurrence, in three varint calls. Every doc's
    first position is stored raw, so the position sums restart at each
    doc."""
    ns = np.asarray(frame["n"], np.int64)
    n_occ = np.asarray(frame["n_occ"], np.int64)
    total_occ = int(n_occ.sum())
    if total_occ == 0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z
    total_n = int(ns.sum())
    docs = rebase(
        unpack_blocks(frame["doc_ids_packed"], total_n), ns,
        np.asarray(frame["base"], np.int64),
    )
    counts = unpack_blocks(frame["counts_packed"], total_n)
    pos = rebase(unpack_blocks(frame["positions_packed"], total_occ), counts)
    return np.repeat(np.arange(len(ns)), n_occ), np.repeat(docs, counts), pos
