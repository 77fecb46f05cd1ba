"""Property tests for the posting-block codec the engine runs — the analog
of the reference's compression round-trip suite
(TestCompressedVectors.java:43-116): decode(encode(x)) == x exactly, across
edge cases (single element, zero first gap, huge values and gaps, block
boundaries). No Spark session: the codec is numpy on Arrow frames."""

from __future__ import annotations

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from jvector_spark.index.build import encode_partition_pdf
from jvector_spark.index.codec import decode_blocks, varint_decode, varint_encode


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    buf, lengths = varint_encode(arr)
    assert np.array_equal(varint_decode(buf, len(xs)), arr)
    # one length per value: its LEB128 byte count, and the bytes it spans
    assert lengths.tolist() == [max(1, -(-x.bit_length() // 7)) for x in xs]
    assert len(buf) == int(lengths.sum())
    off = np.concatenate(([0], np.cumsum(lengths)))
    for i, x in enumerate(xs[:20]):
        assert varint_decode(buf[off[i] : off[i + 1]], 1).tolist() == [x]


def test_varint_empty_and_zero():
    buf, lengths = varint_encode(np.array([], dtype=np.uint64))
    assert buf == b"" and lengths.tolist() == []
    assert varint_decode(b"", 0).tolist() == []
    assert varint_decode(varint_encode(np.array([0], dtype=np.uint64))[0], 1).tolist() == [0]


def test_known_leb128_bytes():
    # 300 = 0b100101100 -> 0xAC 0x02
    buf, lengths = varint_encode(np.array([300], dtype=np.uint64))
    assert buf == b"\xac\x02" and lengths.tolist() == [2]
    assert varint_decode(b"\xac\x02", 1).tolist() == [300]


@st.composite
def posting_rows(draw):
    """(term_id, salt, doc_id, tf, dl) rows of 1-6 (term, salt) runs, each
    of 1-300 docs from an arbitrary start, shuffled (the encoder sorts).
    Hypothesis draws the shape (run count, run lengths, starts) and one
    seed; the values come from that seed's generator over the same ranges
    (gaps 1..2^20, tf 1..2^31, dl 1..2^40), so an example costs a few
    draws instead of one per value."""
    runs = draw(st.integers(1, 6))
    lengths = [draw(st.integers(1, 300)) for _ in range(runs)]
    starts = [draw(st.integers(0, 2**40)) for _ in range(runs)]
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    cols = {c: [] for c in ("term_id", "salt", "doc_id", "tf", "dl")}
    for r, (n, start) in enumerate(zip(lengths, starts)):
        gaps = rng.integers(1, 2**20, size=n - 1, endpoint=True)
        cols["term_id"] += [r // 2] * n
        cols["salt"] += [r % 2] * n
        cols["doc_id"] += (start + np.concatenate(([0], np.cumsum(gaps, dtype=np.int64)))).tolist()
        cols["tf"] += rng.integers(1, 2**31, size=n, endpoint=True).tolist()
        cols["dl"] += rng.integers(1, 2**40, size=n, endpoint=True).tolist()
    pdf = pd.DataFrame(cols).astype({"salt": "int32"})
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


@given(posting_rows(), st.sampled_from([1, 3, 128]))
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(pdf, block_size):
    """decode_blocks(encode) returns every row, each in a block of its own
    (term, salt) run; runs cut every ``block_size`` docs; a run's first
    block has base = its first doc and a first gap of 0."""
    blocks = encode_partition_pdf(pdf, block_size=block_size)
    row, doc, tf, dl = decode_blocks(blocks)
    want = pdf.sort_values(["term_id", "salt", "doc_id"])
    assert doc.tolist() == want["doc_id"].tolist()
    assert tf.tolist() == want["tf"].tolist()
    assert dl.tolist() == want["dl"].tolist()
    assert blocks["term_id"].to_numpy()[row].tolist() == want["term_id"].tolist()
    assert blocks["salt"].to_numpy()[row].tolist() == want["salt"].tolist()

    runs = want.groupby(["term_id", "salt"])["doc_id"]
    assert len(blocks) == sum(-(-n // block_size) for n in runs.size())
    assert (blocks["n"] <= block_size).all()
    first = blocks[blocks["block_id"] == 0].set_index(["term_id", "salt"])
    assert first["base"].to_dict() == runs.min().to_dict()
    for packed in first["doc_ids_packed"]:
        assert varint_decode(packed, 1).tolist() == [0]
    ends = np.cumsum(blocks["n"].to_numpy()) - 1
    assert blocks["max_doc_id"].tolist() == doc[ends].tolist()


def _per_block_decode(frame: pd.DataFrame, rows: np.ndarray):
    """The block-at-a-time decode: three varint calls per block."""
    idx, ids, tfs, dls = [], [], [], []
    for i in rows:
        n = int(frame["n"].iat[i])
        gaps = varint_decode(frame["doc_ids_packed"].iat[i], n).astype(np.int64)
        gaps[0] += frame["base"].iat[i]
        ids.append(np.cumsum(gaps))
        tfs.append(varint_decode(frame["tfs_packed"].iat[i], n).astype(np.int64))
        dls.append(varint_decode(frame["dls_packed"].iat[i], n).astype(np.int64))
        idx.append(np.full(n, i, dtype=np.int64))
    return tuple(np.concatenate(a) for a in (idx, ids, tfs, dls))


@given(posting_rows(), st.sampled_from([1, 3, 128]), st.data())
@settings(max_examples=50, deadline=None)
def test_decode_blocks_equals_per_block_loop(pdf, block_size, data):
    """The flat decode equals a per-block loop on the same frame, for all
    blocks and for any subset of them in any order."""
    blocks = encode_partition_pdf(pdf, block_size=block_size)
    rows = np.array(
        data.draw(st.lists(st.integers(0, len(blocks) - 1), min_size=1, unique=True)),
        dtype=np.int64,
    )
    for got, want in (
        (decode_blocks(blocks), _per_block_decode(blocks, np.arange(len(blocks)))),
        (decode_blocks(blocks, rows), _per_block_decode(blocks, rows)),
    ):
        for g, w in zip(got, want):
            assert g.dtype == np.int64 and np.array_equal(g, w)
    empty = decode_blocks(blocks, np.zeros(0, dtype=np.int64))
    assert all(len(a) == 0 for a in empty)
