"""The build exchange's Arrow encoder, without Spark: both exchange rows
(the one-column ``tsdd`` and the four-column fallback) must encode the
same blocks as ``encode_partition_pdf`` over the tf rows their
occurrences count to, however the partition is split into Arrow batches;
a descending step in either row raises instead of wrapping into a huge
varint gap."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from jvector_spark.index.build import _encode_occ_map_fn, encode_partition_pdf

BITS = (2, 10, 6)  # salt, doc and dl widths of the tsdd row below
ROWS = ("tsdd", "four")
KEYS = ["term_id", "salt", "doc_id"]


def _occurrences(seed: int) -> pd.DataFrame:
    """Occurrences sorted by (term_id, salt, doc_id), with repeated
    (term, doc) pairs so tf > 1 runs exist; dl is a function of the doc."""
    rng = np.random.default_rng(seed)
    n = 4000
    doc = rng.integers(0, 700, n)
    occ = pd.DataFrame({
        "term_id": rng.integers(0, 40, n), "salt": rng.integers(0, 3, n),
        "doc_id": doc, "dl": doc % 37 + 1,
    })
    return occ.sort_values(KEYS, kind="mergesort", ignore_index=True)


def _row(occ: pd.DataFrame, row: str) -> pd.DataFrame:
    if row == "four":
        return occ[["term_id", "salt", "doc_id", "dl"]]
    salt_bits, doc_bits, dl_bits = BITS
    term, salt, doc, dl = (
        occ[c].to_numpy(np.int64) for c in ("term_id", "salt", "doc_id", "dl")
    )
    ts = (term << salt_bits) | salt
    return pd.DataFrame({"tsdd": (ts << (doc_bits + dl_bits)) | (doc << dl_bits) | dl})


def _encode(frame: pd.DataFrame, row: str, cuts=()) -> pd.DataFrame:
    edges = [0, *cuts, len(frame)]
    batches = [frame.iloc[a:b] for a, b in zip(edges, edges[1:])]
    fn = _encode_occ_map_fn(16, BITS if row == "tsdd" else None)
    return pd.concat(list(fn(iter(batches))), ignore_index=True)


@pytest.mark.parametrize("row", ROWS)
def test_exchange_row_encodes_like_encode_partition_pdf(row):
    occ = _occurrences(1)
    tf = occ.groupby([*KEYS, "dl"], as_index=False).size().rename(columns={"size": "tf"})
    assert tf["tf"].max() > 1
    want = encode_partition_pdf(tf, block_size=16)
    # batch boundaries that fall inside runs must not split them
    for cuts in ((), (1, 1000, 1001, 2999)):
        pd.testing.assert_frame_equal(_encode(_row(occ, row), row, cuts), want)


@pytest.mark.parametrize("row", ROWS)
def test_descending_step_raises(row):
    frame = _row(_occurrences(2), row)
    bad = pd.concat([frame.iloc[:1500], frame.iloc[1500:][::-1]], ignore_index=True)
    with pytest.raises(ValueError, match="not sorted by"):
        _encode(bad, row)


@pytest.mark.parametrize("row", ROWS)
def test_empty_partition_yields_no_block(row):
    got = _encode(_row(_occurrences(3), row).iloc[:0], row)
    assert len(got) == 0
    assert list(got.columns) == list(encode_partition_pdf(_occurrences(3).iloc[:0]).columns)
