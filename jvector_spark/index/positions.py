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

Phrase matching decodes only the queried terms' blocks (directory-pruned)
into a flat (term_id, doc_id, pos) relation and self-joins on
(doc_id, pos+1) JVM-side — the relational twin of Lucene's positional
intersection, and exactly the shape of the brute-force oracle, so results
must match it row-for-row (tested).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import BLOCK_SIZE
from ..operators.phrase import token_positions
from .codec import block_layout, pack_blocks, rebase, unpack_blocks
from .storage import (
    POSITIONS_SCHEMA,
    local_relation,
    read_dictionary,
    read_segments,
    read_table,
    shuffle_n,
    sized_shuffle_n,
    table_path,
    term_parts,
)

def _empty_positions_pdf() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "term_id": pd.Series(dtype="int64"),
            "salt": pd.Series(dtype="int32"),
            "block_id": pd.Series(dtype="int32"),
            "n": pd.Series(dtype="int32"),
            "base": pd.Series(dtype="int64"),
            "max_doc_id": pd.Series(dtype="int64"),
            "n_occ": pd.Series(dtype="int32"),
            "doc_ids_packed": pd.Series(dtype=object),
            "counts_packed": pd.Series(dtype=object),
            "positions_packed": pd.Series(dtype=object),
        }
    )


def encode_positions_pdf(pdf: pd.DataFrame, block_size: int = BLOCK_SIZE) -> pd.DataFrame:
    """Vectorized block encoder over one partition of the occurrence
    relation (term_id, salt, doc_id, pos); rows may arrive unsorted."""
    if len(pdf) == 0:
        return _empty_positions_pdf()
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
    same corpus): one extra shuffle-by-(term_id, salt) over the occurrence
    relation, written into the same part_id buckets as ``postings/``."""
    spark = corpus.sparkSession
    seg = read_segments(spark, index_dir)
    n_docs, n_parts = int(seg["n_docs"]), int(seg["n_parts"])
    block_size = int(seg["block_size"])

    occ = token_positions(corpus, text_col, id_col).withColumnRenamed(id_col, "doc_id")
    dct = read_table(spark, index_dir, "dictionary")
    enriched = (
        occ.join(dct.select("term", "term_id", "n_salts"), "term")
        .withColumn(
            "salt",
            F.least(
                (F.col("doc_id") * F.col("n_salts") / F.lit(n_docs)).cast("int"),
                F.col("n_salts") - 1,
            ).cast("int"),
        )
        .withColumn(
            "part_id",
            F.pmod(F.xxhash64("term_id", "salt"), F.lit(n_parts)).cast("int"),
        )
        .select("part_id", "term_id", "salt", "doc_id", "pos")
    )
    from pyspark.sql import Observation

    # block/occurrence totals observed on the write itself (no read-back
    # count + aggregate jobs over the table just written)
    obs = Observation("positions_build_totals")
    blocks = (
        enriched.repartition(
            sized_shuffle_n(enriched, float(seg["n_docs"]) * float(seg["avgdl"])),
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
    blocks.write.mode("overwrite").partitionBy("part_id").parquet(
        table_path(index_dir, "positions")
    )
    m = obs.get
    return {"blocks": int(m["blocks"]), "occurrences": int(m["occ"])}


def _carry_part(it: Iterator[pd.DataFrame], block_size: int) -> Iterator[pd.DataFrame]:
    batches = [p for p in it]
    if not batches:
        e = _empty_positions_pdf()
        e.insert(0, "part_id", pd.Series(dtype="int32"))
        yield e
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
    import os

    return os.path.exists(table_path(index_dir, "positions"))


# ---------------------------------------------------------------------------
# decode + phrase query
# ---------------------------------------------------------------------------

def _decode_positions_map_fn():
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            # bulk decode: the WHOLE frame's blocks in three varint calls
            # (flat concatenated buffers), like the postings' decode_blocks
            # — the round-1 per-block Python loop made the indexed phrase
            # path lose to a full scan
            ns = pdf["n"].to_numpy(np.int64)
            noc = pdf["n_occ"].to_numpy(np.int64)
            total_n = int(ns.sum())
            total_occ = int(noc.sum())
            if total_n == 0 or total_occ == 0:
                continue
            docs = rebase(
                unpack_blocks(pdf["doc_ids_packed"], total_n),
                ns, pdf["base"].to_numpy(np.int64),
            )
            counts = unpack_blocks(pdf["counts_packed"], total_n)
            # per-doc positions: every doc's first occurrence is a stored
            # raw position, so the cumsum restarts at each doc
            pos = rebase(unpack_blocks(pdf["positions_packed"], total_occ), counts)
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), noc),
                    "doc_id": np.repeat(docs, counts),
                    "pos": pos,
                }
            )

    return fn


def decode_positions(
    spark: SparkSession, index_dir: str, term_ids: list[int] | None = None
) -> DataFrame:
    """(term_id, doc_id, pos) — decoded occurrence relation, optionally
    restricted to ``term_ids`` with directory-level part pruning."""
    if term_ids is None:
        return _decode_positions(read_table(spark, index_dir, "positions"))
    dct = read_dictionary(index_dir, pc.field("term_id").isin(list(term_ids)))
    return _positions_of(spark, index_dir, dct.to_pylist())


def _positions_of(spark: SparkSession, index_dir: str, dct_rows: list[dict]) -> DataFrame:
    """Decoded occurrences of the dictionary rows' terms: the positions scan
    directory-pruned to the part_ids of their (term_id, salt) pairs, which
    are resolved driver-side with the bit-exact python twin of
    pmod(xxhash64(...)) — no Spark job."""
    seg = read_segments(spark, index_dir)
    parts = term_parts(((r["term_id"], r["n_salts"]) for r in dct_rows), seg["n_parts"])
    pos = read_table(spark, index_dir, "positions").filter(
        F.col("part_id").isin(parts)
        & F.col("term_id").isin([r["term_id"] for r in dct_rows])
    )
    return _decode_positions(pos)


def _decode_positions(pos: DataFrame) -> DataFrame:
    return pos.mapInPandas(
        _decode_positions_map_fn(), schema="term_id long, doc_id long, pos long"
    )


def _occurrences_for_terms(
    spark: SparkSession, index_dir: str, terms: tuple[str, ...]
) -> tuple[DataFrame | None, dict[str, int]]:
    """Decode the positional occurrences of ``terms``: (occ, term→term_id).

    ``occ`` is a (term_id, doc_id, pos) DataFrame over ONLY the queried
    terms' blocks (directory-pruned to their part_ids); the terms are
    looked up with a pyarrow filter on the dictionary, so no Spark job runs
    before the read. ``occ`` is None when any term is OOV — no positional
    query over all of ``terms`` can match."""
    if not has_positions(index_dir):
        raise ValueError(f"index at {index_dir} has no positions feature")
    dct = read_dictionary(index_dir, pc.field("term").isin(list(set(terms)))).to_pylist()
    tids = {r["term"]: r["term_id"] for r in dct}
    if len(tids) < len(set(terms)):
        return None, tids
    return _positions_of(spark, index_dir, dct), tids


def phrase_count_indexed(
    spark: SparkSession, index_dir: str, *terms: str
) -> DataFrame:
    """(doc_id, n_phrase) — docs containing the exact phrase ``terms``
    (adjacent, in order), answered from the positional feature. Must equal
    the brute-force ``operators.phrase.phrase_count`` exactly."""
    if len(terms) < 2:
        raise ValueError("phrase needs >= 2 terms")
    occ, tids = _occurrences_for_terms(spark, index_dir, terms)
    if occ is None:
        return local_relation(spark, [], "doc_id long, n_phrase long")

    # decode ONCE, co-locate by doc (one narrow shuffle of the queried
    # terms' occurrences), then intersect ALL docs' positional sets in one
    # vectorized pass per phrase slot: occurrences are encoded as
    # (doc_id << POS_BITS | shifted position) keys, slot i's keys are the
    # positions minus i, and the phrase matches are the n-way sorted-set
    # intersection — no per-group pandas overhead (a per-doc applyInPandas
    # measured ~5 ms/group: thousands of matching docs made the index path
    # LOSE to the brute-force scan), no re-execution of the decode subtree
    # per slot (the n-way self-join shape did exactly that).
    POS_BITS = 21  # positions per doc < 2M; doc_id < 2^42
    slot_tids = [int(tids[t]) for t in terms]
    n_slots = len(slot_tids)

    def match_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [p for p in it]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        t = pdf["term_id"].to_numpy(np.int64)
        d = pdf["doc_id"].to_numpy(np.int64)
        p = pdf["pos"].to_numpy(np.int64)
        # pack-width guard: position bits must not bleed into doc bits —
        # a silent overflow would return WRONG phrase counts, so fail loudly
        # (a >2M-token doc wants the brute-force join path instead)
        if len(p) and int(p.max()) + n_slots >= (1 << POS_BITS):
            raise ValueError(
                f"phrase kernel overflow: max position {int(p.max())} + "
                f"{n_slots} slots >= 2^{POS_BITS}; split the doc or use "
                "the brute-force phrase path"
            )
        if len(d) and int(d.max()) >= (1 << (63 - POS_BITS)):
            raise ValueError(
                f"phrase kernel overflow: doc_id {int(d.max())} >= "
                f"2^{63 - POS_BITS}"
            )
        cur = None
        for i, tid in enumerate(slot_tids):
            m = t == tid
            # +n_slots keeps shifted positions strictly positive
            keys = (d[m] << POS_BITS) | (p[m] - i + n_slots)
            cur = keys if cur is None else np.intersect1d(cur, keys)
            if len(cur) == 0:
                return
        docs, counts = np.unique(cur >> POS_BITS, return_counts=True)
        yield pd.DataFrame({"doc_id": docs, "n_phrase": counts.astype(np.int64)})

    return occ.repartition(shuffle_n(occ), "doc_id").mapInPandas(
        match_fn, schema="doc_id long, n_phrase long"
    )


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

    Kernel shape (same family as the phrase kernel above): decode the two
    terms' occurrences once, co-locate by doc, pack (doc_id << POS_BITS |
    shifted pos) keys, then count each t1 occurrence's in-window t2
    neighbors with two vectorized ``searchsorted`` probes over t2's sorted
    keys — window arithmetic cannot cross a doc boundary because shifted
    positions are strictly positive and the pack-width guard bounds
    ``pos + slop`` below 2^POS_BITS."""
    if t1 == t2:
        raise ValueError("proximity terms must differ (a position holds one term)")
    if slop < 1:
        raise ValueError(f"slop must be >= 1, got {slop}")
    occ, tids = _occurrences_for_terms(spark, index_dir, (t1, t2))
    if occ is None:
        return local_relation(spark, [], "doc_id long, n_prox long")

    POS_BITS = 21
    tid1, tid2 = int(tids[t1]), int(tids[t2])
    off = slop + 1  # shifted positions stay > slop, so key-slop stays in-doc

    def match_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        batches = [p for p in it]
        if not batches:
            return
        pdf = pd.concat(batches, ignore_index=True)
        t = pdf["term_id"].to_numpy(np.int64)
        d = pdf["doc_id"].to_numpy(np.int64)
        p = pdf["pos"].to_numpy(np.int64)
        if len(p) and int(p.max()) + off + slop >= (1 << POS_BITS):
            raise ValueError(
                f"proximity kernel overflow: max position {int(p.max())} + "
                f"slop {slop} >= 2^{POS_BITS}; use the brute-force path"
            )
        if len(d) and int(d.max()) >= (1 << (63 - POS_BITS)):
            raise ValueError(
                f"proximity kernel overflow: doc_id {int(d.max())} >= "
                f"2^{63 - POS_BITS}"
            )
        keys = (d << POS_BITS) | (p + off)
        k1 = keys[t == tid1]
        k2 = np.sort(keys[t == tid2])
        if not len(k1) or not len(k2):
            return
        lo = np.searchsorted(k2, k1 + 1 if ordered else k1 - slop, side="left")
        hi = np.searchsorted(k2, k1 + slop, side="right")
        cnt = hi - lo
        keep = cnt > 0
        if not keep.any():
            return
        docs, inv = np.unique(k1[keep] >> POS_BITS, return_inverse=True)
        n = np.bincount(inv, weights=cnt[keep].astype(np.float64))
        yield pd.DataFrame({"doc_id": docs, "n_prox": n.astype(np.int64)})

    return occ.repartition(shuffle_n(occ), "doc_id").mapInPandas(
        match_fn, schema="doc_id long, n_prox long"
    )
