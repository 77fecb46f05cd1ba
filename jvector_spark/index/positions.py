"""Optional positional-postings feature: per-occurrence token positions
packed beside the inverted index, enabling index-level phrase queries.

Reference analog: the on-disk format's *feature-flagged per-node payloads*
— a graph index optionally inlines INLINE_VECTORS / FUSED_PQ / NVQ_VECTORS
records per node, discovered via a header bitset
(jvector-base/.../graph/disk/feature/FeatureId.java:31-62,
AbstractGraphIndexWriter.java:46-53). Here the optional feature is a
``positions/`` table (hashed ``part_id`` buckets on both layouts);
its presence on disk *is* the feature flag. Indexes built without it answer
every non-positional query unchanged.

Wire format per positions block (BLOCK_SIZE docs per block, same doc-gap
delta+varint scheme as the core codec):

    doc_ids_packed:   varint(doc gaps)           one per doc in block
    counts_packed:    varint(occurrences per doc)
    positions_packed: varint(position deltas)    one per occurrence;
                      a doc's first position is stored raw, subsequent
                      positions as gaps (positions are 1-based, strictly
                      increasing within a doc)

(decoded by ``codec.decode_position_blocks``).

Phrase and proximity reads get the queried terms' live occurrences, a
flat (term_id, doc_id, pos) relation, from the index's one reader
(``query.live_rows``: the terms' hashed parts, a ``term_id``-filtered
scan, one decode per block, tombstoned docs masked), co-locate them by doc
and match them with a vectorized kernel — the twin of Lucene's positional
intersection; results must equal the brute-force ``operators.phrase``
oracle row for row (tested). The table is written by one body,
:func:`write_positions`: :func:`add_positions` encodes a corpus through
it, and ``maintenance.compact_index`` re-encodes the live occurrences
through it. ``extend_index`` refuses an index with positions, since no
extend path writes them.
"""

from __future__ import annotations

import os
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE
from ..operators.phrase import token_positions
from .codec import block_layout, pack_blocks
from .query import decoded, live_rows
from .storage import (
    POSITIONS_SCHEMA,
    arrow_schema,
    ids_in,
    local_relation,
    read_dictionary,
    read_segments,
    read_table,
    shuffle_n,
    sized_shuffle_n,
    staged_dir,
    swap_in,
    table_path,
)

def encode_positions_pdf(pdf: pd.DataFrame, block_size: int = BLOCK_SIZE) -> pd.DataFrame:
    """Vectorized block encoder over one partition of the occurrence
    relation (term_id, salt, doc_id, pos); rows may arrive unsorted."""
    if len(pdf) == 0:
        return arrow_schema(POSITIONS_SCHEMA).empty_table().to_pandas()
    pdf = pdf.sort_values(["term_id", "salt", "doc_id", "pos"], kind="mergesort")
    term = pdf["term_id"].to_numpy(np.int64)
    salt = pdf["salt"].to_numpy(np.int32)
    d = pdf["doc_id"].to_numpy(np.int64)
    pos = pdf["pos"].to_numpy(np.int64)
    n_occ_total = len(d)

    # occurrence-level boundaries
    grp_start = np.ones(n_occ_total, dtype=bool)  # (term, salt) run starts
    grp_start[1:] = (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
    doc_start = grp_start.copy()
    doc_start[1:] |= d[1:] != d[:-1]

    # position deltas: raw at each doc start, gap otherwise
    pdelta = pos.copy()
    pdelta[1:] = np.where(doc_start[1:], pos[1:], pos[1:] - pos[:-1])

    # doc-level arrays, cut into blocks like the postings
    dstarts = np.flatnonzero(doc_start)  # occ index of each doc's first occ
    occ_bounds = np.append(dstarts, n_occ_total)
    counts = np.diff(occ_bounds)
    dd = d[dstarts]
    dterm = term[dstarts]
    dsalt = salt[dstarts]
    bstarts, bends, block_id, gaps, base = block_layout(dterm, dsalt, dd, block_size)
    # occurrence ranges per block
    occ_s, occ_e = occ_bounds[bstarts], occ_bounds[bends]

    return pd.DataFrame(
        {
            "term_id": dterm[bstarts],
            "salt": dsalt[bstarts].astype("int32"),
            "block_id": block_id,
            "n": (bends - bstarts).astype("int32"),
            "base": base,
            "max_doc_id": dd[bends - 1],
            "n_occ": (occ_e - occ_s).astype("int32"),
            "doc_ids_packed": pack_blocks(gaps, bstarts, bends),
            "counts_packed": pack_blocks(counts, bstarts, bends),
            "positions_packed": pack_blocks(pdelta, occ_s, occ_e),
        }
    )


def add_positions(
    corpus: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Attach the positional feature to an existing index (built from the
    same corpus): its occurrences get their term's salt by the build's salt
    plan and go through :func:`write_positions`."""
    spark = corpus.sparkSession
    seg = read_segments(spark, index_dir)
    occ = token_positions(corpus, text_col, id_col).withColumnRenamed(id_col, "doc_id")
    dct = read_table(spark, index_dir, "dictionary")
    enriched = occ.join(dct.select("term", "term_id", "n_salts"), "term").withColumn(
        "salt",
        F.least(
            (F.col("doc_id") * F.col("n_salts") / F.lit(int(seg["n_docs"]))).cast("int"),
            F.col("n_salts") - 1,
        ).cast("int"),
    )
    return write_positions(enriched, index_dir, seg)


def write_positions(occ: DataFrame, index_dir: str, seg: dict) -> dict:
    """Write the occurrence relation ``occ`` (term_id, salt, doc_id, pos)
    as the ``positions/`` table of the index with segments row ``seg``,
    replacing any there: one shuffle by (part_id, term_id, salt), one
    encode per task into the hashed ``part_id`` buckets (on both layouts),
    written to a staged directory and swapped in (``storage.swap_in``).
    The body of :func:`add_positions` and of compaction's rewrite. Returns
    the block and occurrence totals, observed on the write itself (no
    read-back count)."""
    block_size = int(seg["block_size"])
    occ = occ.select(
        F.pmod(F.xxhash64("term_id", "salt"), F.lit(int(seg["n_parts"]))).cast("int").alias("part_id"),
        "term_id", "salt", "doc_id", "pos",
    )
    obs = Observation("positions_totals")
    blocks = (
        occ.repartition(
            sized_shuffle_n(occ, float(seg["n_docs"]) * float(seg["avgdl"] or 0)),
            "part_id", "term_id", "salt",
        )
        .mapInPandas(
            lambda it: _carry_part(it, block_size),
            schema="part_id int, " + POSITIONS_SCHEMA,
        )
        .observe(
            obs,
            F.count("*").alias("blocks"),
            F.coalesce(F.sum("n_occ"), F.lit(0)).alias("occ"),
        )
    )
    staged = staged_dir(index_dir, "positions")
    blocks.write.mode("overwrite").partitionBy("part_id").parquet(staged)
    swap_in(staged, index_dir, "positions")
    m = obs.get
    return {"blocks": int(m["blocks"]), "occurrences": int(m["occ"])}


def _carry_part(it: Iterator[pd.DataFrame], block_size: int) -> Iterator[pd.DataFrame]:
    batches = list(it)
    if not batches:
        return
    pdf = pd.concat(batches, ignore_index=True)
    part_by_key = pdf.drop_duplicates(["term_id", "salt"]).set_index(
        ["term_id", "salt"]
    )["part_id"]
    out = encode_positions_pdf(pdf.drop(columns=["part_id"]), block_size)
    out.insert(
        0,
        "part_id",
        part_by_key.reindex(
            pd.MultiIndex.from_arrays([out["term_id"], out["salt"]])
        ).to_numpy(np.int32),
    )
    yield out


def has_positions(index_dir: str) -> bool:
    """Feature-flag check (the FeatureId-bitset analog)."""
    return os.path.exists(table_path(index_dir, "positions"))


# ---------------------------------------------------------------------------
# decode + phrase query
# ---------------------------------------------------------------------------

def decode_positions(
    spark: SparkSession, index_dir: str, term_ids: list[int] | None = None
) -> DataFrame:
    """(term_id, doc_id, pos) — the decoded occurrence relation, tombstoned
    docs included, optionally restricted to ``term_ids`` (a ``term_id``
    filter in the scan)."""
    blocks = read_table(spark, index_dir, "positions")
    if term_ids is not None:
        blocks = blocks.filter(ids_in("term_id", sorted(term_ids)))
    return decoded(blocks, "positions", ["term_id"])


# occurrences are packed into (doc_id << POS_BITS | shifted position) keys:
# positions per doc < 2M, doc_id < 2^42
POS_BITS = 21


def _match_by_doc(
    spark: SparkSession, index_dir: str, terms: tuple[str, ...], kernel, reach: int,
    schema: str,
) -> DataFrame:
    """``kernel(term_ids, doc_ids, positions, term→term_id)`` over the live
    occurrences of ``terms``, co-located by doc: the body of the phrase and
    proximity reads. The terms are looked up with a pyarrow filter on the
    dictionary (no Spark job before the read), their occurrences come from
    the one reader (``query.live_rows``: their hashed parts only, each
    block decoded once, tombstoned docs masked), one narrow shuffle
    co-locates them by doc, and the kernel matches every doc of a
    partition in one vectorized pass — a per-doc applyInPandas measured
    ~5 ms/group, and thousands of matching docs made the index path LOSE
    to the brute-force scan. An OOV term matches nothing. The pack-width
    guard fails loudly when ``reach``, the largest shift a kernel adds to a
    position, would let position bits bleed into doc bits: a silent
    overflow would return WRONG counts (a >2M-token doc wants the
    brute-force path)."""
    if not has_positions(index_dir):
        raise ValueError(f"index at {index_dir} has no positions feature")
    dct = read_dictionary(index_dir, pc.field("term").isin(list(set(terms)))).to_pylist()
    tids = {r["term"]: r["term_id"] for r in dct}
    if len(tids) < len(set(terms)):
        return local_relation(spark, [], schema)
    occ = live_rows(spark, index_dir, "positions", [(r["term_id"], r["n_salts"]) for r in dct])

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = list(it)
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        t, d, p = (pdf[c].to_numpy(np.int64) for c in ("term_id", "doc_id", "pos"))
        if len(p) and int(p.max()) + reach >= 1 << POS_BITS:
            raise ValueError(
                f"position kernel overflow: max position {int(p.max())} + "
                f"{reach} >= 2^{POS_BITS}; split the doc or use the brute-force path"
            )
        if len(d) and int(d.max()) >= 1 << (63 - POS_BITS):
            raise ValueError(
                f"position kernel overflow: doc_id {int(d.max())} >= 2^{63 - POS_BITS}"
            )
        out = kernel(t, d, p, tids)
        if out is not None:
            yield out

    return occ.repartition(shuffle_n(occ), "doc_id").mapInPandas(fn, schema=schema)


def phrase_count_indexed(
    spark: SparkSession, index_dir: str, *terms: str
) -> DataFrame:
    """(doc_id, n_phrase) — docs containing the exact phrase ``terms``
    (adjacent, in order), answered from the positional feature. Must equal
    the brute-force ``operators.phrase.phrase_count`` exactly.

    Kernel: slot i's keys are its term's positions minus i, and the phrase
    matches are the n-way sorted-set intersection of the slots' keys — no
    re-execution of the decode subtree per slot (the n-way self-join shape
    did exactly that)."""
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    n = len(terms)

    def kernel(t, d, p, tids):
        cur = None
        for i, term in enumerate(terms):
            m = t == tids[term]
            # +n keeps shifted positions strictly positive
            keys = (d[m] << POS_BITS) | (p[m] - i + n)
            cur = keys if cur is None else np.intersect1d(cur, keys)
            if len(cur) == 0:
                return None
        docs, counts = np.unique(cur >> POS_BITS, return_counts=True)
        return pd.DataFrame({"doc_id": docs, "n_phrase": counts.astype(np.int64)})

    return _match_by_doc(spark, index_dir, terms, kernel, n, "doc_id long, n_phrase long")


def proximity_count_indexed(
    spark: SparkSession,
    index_dir: str,
    t1: str,
    t2: str,
    *,
    slop: int = 3,
    ordered: bool = False,
) -> DataFrame:
    """(doc_id, n_prox) — proximity ("NEAR") matching from the positional
    feature: pairs of occurrences of ``t1``/``t2`` within ``slop`` positions
    (``ordered=True`` requires t2 to follow t1). Must equal the brute-force
    ``operators.phrase.proximity_count`` exactly.

    Kernel: count each t1 occurrence's in-window t2 neighbors with two
    vectorized ``searchsorted`` probes over t2's sorted keys — window
    arithmetic cannot cross a doc boundary because shifted positions are
    strictly positive and the pack-width guard bounds ``pos + slop`` below
    2^POS_BITS."""
    if t1 == t2:
        raise ValueError("proximity terms must differ (a position holds one term)")
    if slop < 1:
        raise ValueError(f"slop must be >= 1, got {slop}")
    off = slop + 1  # shifted positions stay > slop, so key-slop stays in-doc

    def kernel(t, d, p, tids):
        keys = (d << POS_BITS) | (p + off)
        k1 = keys[t == tids[t1]]
        k2 = np.sort(keys[t == tids[t2]])
        if not len(k1) or not len(k2):
            return None
        lo = np.searchsorted(k2, k1 + 1 if ordered else k1 - slop, side="left")
        hi = np.searchsorted(k2, k1 + slop, side="right")
        cnt = hi - lo
        keep = cnt > 0
        if not keep.any():
            return None
        docs, inv = np.unique(k1[keep] >> POS_BITS, return_inverse=True)
        n = np.bincount(inv, weights=cnt[keep].astype(np.float64))
        return pd.DataFrame({"doc_id": docs, "n_prox": n.astype(np.int64)})

    return _match_by_doc(
        spark, index_dir, (t1, t2), kernel, off + slop, "doc_id long, n_prox long"
    )
