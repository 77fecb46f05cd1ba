"""Index-backed BM25 query engine: posting-block decode, exact relational
scoring, and Block-Max-WAND pruned top-k.

Reference analog: GraphSearcher's two-phase search with early termination
(jvector-base/.../graph/GraphSearcher.java:209-487, ScoreTracker.java:158-263,
surveyed Q1-Q6/P4-P5). Key difference exploited here: BM25 block upper
bounds are *exact* maxima computed at build time, so pruning is lossless —
the pruned and unpruned paths must return byte-identical results (tested),
unlike the reference's approximate first pass.

Plan shape / scale notes:
- the query set is collected to the driver and its terms are looked up in
  the dictionary with a pyarrow filter on ``term``; idf is computed there
  with the JVM's own ``StrictMath.log`` (:func:`idf_values`), so the lookup
  runs no Spark job. The ``part_id`` directories to open then come from
  the one part rule, :func:`storage.postings_parts`: the hashed parts of
  the query's terms on the term-partitioned layout (the analog of jvector
  seeking only the adjacency regions a search touches), every doc bucket
  on the doc-partitioned one (``index.docpart``). That rule is the only
  read-time difference between the layouts, as the reference's one
  ``GraphSearcher`` searches its on-heap and on-disk graphs;
- the fused blocks carry tf **and dl** inline, so exact scoring never
  touches the corpus-sized doc_stats table at query time. Every path
  decodes them with the one decoder, :func:`codec.decode_blocks` (the
  WAND kernel per chunk of blocks, the relational reads per Arrow batch);
- pruned path: a searcher per query (the reference's GraphSearcher-per-
  thread model); candidate segments are processed in descending
  upper-bound order with a rising top-k floor θ, skipping every block
  whose doc-range segment cannot beat θ. It runs in one of two places,
  chosen by one sizing rule (:data:`DRIVER_MAX_POSTINGS`,
  :data:`DRIVER_MAX_BYTES`):
  - *driver path*, when the postings the batch's kernels could decode
    (Σ_q Σ_{t∈q} df_t) and the bytes of the part files it would open are
    both under the constants: the pruned part files are read with pyarrow
    filtered to the query terms, every query runs on the driver, and the
    result is a local relation — zero Spark jobs, the reference's
    in-process ``GraphSearcher``;
  - *Spark path* otherwise: queries are dealt into buckets, each bucket's
    blocks are gathered by one shuffle, and one task per bucket runs its
    queries, so cluster QPS scales across queries.
  Both run the same per-bucket body (:func:`_wand_queries`) over blocks in
  one fixed order, so they return the same rows and score bits (tested);
- one reader, :func:`live_rows`, gives every relational and positional
  read its rows: the dictionary rows' parts (postings: the layout's part
  rule; positions: hashed on both layouts), a ``term_id``-filtered scan,
  one decode per block with the table's own decoder (:func:`decoded`,
  over :mod:`codec`), then the tombstone mask. The relational reads run
  one body on it, :func:`_scored` — live postings → broadcast join to the
  (query, term) rows → (optional accept join) → JVM-side BM25 or tf-idf
  contribution → sum per (query, doc) — and one rank step,
  :func:`_ranked`. The unpruned top-k (the oracle for the pruned path and
  the scale-out path for very large single queries), tf-idf top-k,
  threshold search and the broad-predicate filtered top-k are thin calls
  of it; the boolean reads (``operators.boolean``) and the phrase and
  proximity reads (``index.positions``) call the reader itself. The two
  WAND paths read blocks undecoded and mask tombstones in the kernel.
"""

from __future__ import annotations

import math
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .codec import decode_blocks, decode_position_blocks
from .storage import (
    ids_in,
    local_relation,
    postings_files,
    postings_parts,
    read_dictionary,
    read_files,
    read_segments,
    read_table,
    term_parts,
    tombstone_ids,
)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

# each block table's one decoder: (kernel, the block columns it reads, the
# long columns it decodes each block into)
_DECODERS = {
    "postings": (decode_blocks, "n base doc_ids_packed tfs_packed dls_packed", "doc_id tf dl"),
    "positions": (
        decode_position_blocks,
        "n base n_occ doc_ids_packed counts_packed positions_packed", "doc_id pos",
    ),
}


def decoded(blocks: DataFrame, table: str, carry: list[str]) -> DataFrame:
    """The rows of ``blocks``, a scan of ``table``'s blocks, decoded per
    Arrow batch by that table's one decoder: ``carry`` (block columns,
    repeated on each row) then ``(doc_id, tf, dl)`` for postings or
    ``(doc_id, pos)`` for positions. Unmasked: :func:`live_rows` is the
    read that drops tombstoned docs."""
    decode, block_cols, cols = _DECODERS[table]
    block_cols, cols = block_cols.split(), cols.split()

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            row, *vals = decode(pdf)
            yield pd.DataFrame(
                {**{c: pdf[c].to_numpy()[row] for c in carry}, **dict(zip(cols, vals))}
            )

    schema = [f"{c} {blocks.schema[c].dataType.simpleString()}" for c in carry]
    return blocks.select(*carry, *block_cols).mapInPandas(
        fn, schema=", ".join(schema + [f"{c} long" for c in cols])
    )


def decode_postings(spark: SparkSession, index_dir: str, extra_cols: list[str] | None = None) -> DataFrame:
    """(term_id, doc_id, tf, dl [, extra]) — full decode of the postings
    table, tombstoned docs included; must equal the enriched term_freq
    relation exactly (round-trip test, the analog of TestOnDiskGraphIndex
    write→load→search parity)."""
    return decoded(
        read_table(spark, index_dir, "postings"), "postings",
        ["term_id", *(extra_cols or [])],
    )


def _read_set(seg: dict, table: str, terms) -> tuple[list[int], list[int]]:
    """(parts, term_ids) of a read of ``table``'s blocks of the ``(term_id,
    n_salts)`` pairs ``terms``: the part directories it opens — the one
    layout rule :func:`storage.postings_parts` for postings, the hashed
    :func:`storage.term_parts` for positions, which are hashed on both
    layouts — and its distinct sorted term ids."""
    terms = [(int(t), int(n)) for t, n in terms]
    parts = (postings_parts(seg, terms) if table == "postings"
             else term_parts(terms, seg["n_parts"]))
    return parts, sorted({t for t, _ in terms})


def _scan(
    spark: SparkSession, index_dir: str, table: str, parts: list[int], term_ids: list[int]
) -> DataFrame:
    """The Spark scan of ``table``'s blocks of ``term_ids``: directory-pruned
    to ``parts``, and filtered on ``term_id`` in the scan, which lets the
    Parquet reader skip row groups of other terms inside each part file
    (every part of a doc-partitioned index holds every term)."""
    return read_table(spark, index_dir, table).filter(
        ids_in("part_id", parts) & ids_in("term_id", term_ids)
    )


def live_rows(spark: SparkSession, index_dir: str, table: str, terms) -> DataFrame:
    """The decoded live rows of the dictionary rows ``terms`` (``(term_id,
    n_salts)`` pairs) in ``table``: ``(term_id, doc_id, tf, dl)`` from
    ``postings`` or ``(term_id, doc_id, pos)`` from ``positions``. The one
    reader of every relational and positional read: it opens the parts
    that hold the terms (:func:`_read_set`), scans them filtered on
    ``term_id``, decodes each block once (:func:`decoded`) and drops
    tombstoned docs with a ``doc_id NOT IN`` filter — deleted docs must
    neither fill nor shadow result slots (M1 semantics, the Bits-acceptOrds
    filter of GraphSearcher.java:202-205)."""
    parts, term_ids = _read_set(read_segments(spark, index_dir), table, terms)
    rows = decoded(_scan(spark, index_dir, table, parts, term_ids), table, ["term_id"])
    dead = tombstone_ids(spark, index_dir)
    return rows.filter(~ids_in("doc_id", sorted(dead))) if dead else rows


# ---------------------------------------------------------------------------
# query prep
# ---------------------------------------------------------------------------

def idf_values(spark: SparkSession, dfs, n_docs: int, idf: str = "bm25") -> dict:
    """``{df: idf}`` for the distinct document frequencies ``dfs`` in a
    corpus of ``n_docs`` — the engine's one idf function, for every indexed
    path and both layouts. Robertson-Sparck-Jones (BM25) idf is
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``; the classic smoothed tf-idf
    idf (``idf="tfidf"``, Q11's second exact kernel) is ``ln(1 + N / df)``.

    The arithmetic runs in the operation order of the Catalyst expressions
    ``F.log(1 + (n - df + 0.5) / (df + 0.5))`` and ``F.log(1 + n / df)``,
    and the log is the JVM's own ``java.lang.StrictMath.log`` through the
    session's Py4J gateway: Catalyst's ``log`` is ``StrictMath.log``, so
    the result equals those expressions bit for bit (pytest-enforced),
    where ``math.log`` and ``np.log`` differ in the last bit on a few
    percent of df values. One gateway call per distinct df, ~0.1 ms."""
    jlog = spark.sparkContext._jvm.java.lang.StrictMath.log
    n = float(n_docs)
    out = {}
    for df in set(dfs):
        d = float(df)
        x = 1.0 + (n - d + 0.5) / (d + 0.5) if idf == "bm25" else 1.0 + n / d
        out[df] = float(jlog(x))
    return out


def lookup_terms(
    spark: SparkSession, index_dir: str, qterms: DataFrame, seg: dict,
    global_df: DataFrame | None = None,
    idf: str = "bm25",
) -> list:
    """The caller's (query_id, term, weight) relation, collected once, as
    driver-side ``(query_id, term_id, weight, idf, n_salts, df)`` tuples
    for its rows whose term is in the dictionary. ``df`` is this index's
    own document frequency: the number of postings a read of the term
    decodes.

    Runs no Spark job when ``qterms`` is a local relation: the dictionary
    rows of the query terms are read with a pyarrow filter on ``term``
    (:func:`storage.read_dictionary`) and idf comes from
    :func:`idf_values`. A query_id that does not fit the output's
    ``query_id int`` raises ``ValueError``: truncated, two queries would
    merge silently.

    ``global_df`` (term, df) overrides the document frequencies for idf —
    the sharded-index path computes idf from CORPUS-wide stats so
    per-shard scores are exact final scores (see ``index.sharded``);
    ``seg['n_docs']`` is likewise already the global count there. Its rows
    for the query terms are collected in one Spark job."""
    qrows = qterms.select("query_id", "term", "weight").collect()
    for r in qrows:
        if not -(1 << 31) <= int(r.query_id) < 1 << 31:
            raise ValueError(
                f"query_id {r.query_id} does not fit the output's query_id int"
            )
    terms = sorted({r.term for r in qrows if r.term is not None})
    if not terms:
        return []
    dct = read_dictionary(index_dir, pc.field("term").isin(terms)).to_pylist()
    idf_df = {r["term"]: r["df"] for r in dct}
    if global_df is not None:
        gdf = dict(
            global_df.filter(F.col("term").isin(terms)).select("term", "df").collect()
        )
        idf_df = {t: gdf[t] for t in idf_df if t in gdf}
    idfs = idf_values(spark, idf_df.values(), seg["n_docs"], idf)
    by_term = {
        r["term"]: (r["term_id"], idfs[idf_df[r["term"]]], r["n_salts"], r["df"])
        for r in dct
        if r["term"] in idf_df
    }
    qd_rows = []
    for r in qrows:
        if r.term in by_term:
            tid, idf_v, n_salts, df = by_term[r.term]
            qd_rows.append((r.query_id, tid, float(r.weight), idf_v, n_salts, df))
    return qd_rows


# ---------------------------------------------------------------------------
# relational (exact) reads
# ---------------------------------------------------------------------------

def _scored(
    spark: SparkSession, index_dir: str, qterms: DataFrame, seg: dict,
    idf: str = "bm25",
    global_df: DataFrame | None = None,
    accept: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, score) for every live doc matching a query term:
    the one body of the relational reads. Read the queried terms' live
    postings (:func:`live_rows`, each block decoded once), broadcast-join
    them to the (query, term) rows of :func:`lookup_terms`, keep only
    ``accept``'s doc_ids when given (a hash join Catalyst/AQE plans), score
    each posting JVM-side — BM25 ``w·idf·tf / (tf + k1·(1 - b + b·dl/avgdl))``
    or, for ``idf="tfidf"``, ``w·idf·(1 + ln tf)`` — and sum per (query,
    doc)."""
    qd_rows = lookup_terms(spark, index_dir, qterms, seg, global_df, idf)
    # the query relation is tiny (queries × terms): a local relation for the
    # broadcast join — no persist, so a long-running query loop pins zero
    # executor storage (round-1 leak). query_id is every read's output int
    # (lookup_terms checks that it fits)
    qd = local_relation(
        spark,
        [(qid, tid, w, idf_v) for qid, tid, w, idf_v, _, _ in qd_rows],
        "query_id int, term_id long, weight double, idf double",
    )
    rows = live_rows(
        spark, index_dir, "postings", {(tid, ns) for _, tid, _, _, ns, _ in qd_rows}
    ).join(F.broadcast(qd), "term_id")
    if accept is not None:
        rows = rows.join(accept.select("doc_id").distinct(), "doc_id")
    if idf == "tfidf":
        contrib = F.col("weight") * F.col("idf") * (F.lit(1.0) + F.log(F.col("tf")))
    else:
        k1, b, avgdl = seg["k1"], seg["b"], seg["avgdl"]
        contrib = (
            F.col("weight")
            * F.col("idf")
            * F.col("tf")
            / (
                F.col("tf")
                + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
            )
        )
    return (
        rows.withColumn("contrib", contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )


def _ranked(scored: DataFrame, k: int, offset: int = 0) -> DataFrame:
    """Ranks (offset, offset + k] of each query's scored docs, score
    descending, ties by ascending doc_id."""
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter((F.col("rank") > offset) & (F.col("rank") <= offset + k))
        .select("query_id", "rank", "doc_id", "score")
    )


def bm25_topk_indexed_unpruned(
    spark: SparkSession, index_dir: str, qterms: DataFrame, k: int = 10,
    offset: int = 0,
    global_stats: dict | None = None,
    global_df: DataFrame | None = None,
) -> DataFrame:
    """Decode matched blocks → JVM-side scoring → window top-k."""
    seg = read_segments(spark, index_dir)
    if global_stats:
        seg = {**seg, **global_stats}
    return _ranked(_scored(spark, index_dir, qterms, seg, global_df=global_df), k, offset)


# ---------------------------------------------------------------------------
# pruned (Block-Max WAND) path
# ---------------------------------------------------------------------------

# terms with at most this many postings in a query's working set are
# decoded exactly upfront instead of bounded: a sparse term's single block
# spans nearly the whole doc space, so leaving it bounded adds its full
# upper bound to EVERY segment and strangles pruning. Decoding it costs
# microseconds; pruning then has to beat only the dense terms' bounds.
SPARSE_EXACT_LIMIT = 2048


def wand_topk_arrays(
    pdf: pd.DataFrame | dict,
    k: int,
    k1: float,
    b: float,
    avgdl: float,
    dead: np.ndarray | None = None,
    accept: np.ndarray | None = None,
    sparse_limit: int = SPARSE_EXACT_LIMIT,
) -> tuple[np.ndarray, np.ndarray, int, int]:
    """Pure numpy Block-Max top-k for one query's posting blocks ``pdf``
    (a DataFrame, or a dict of column arrays) — the two-phase scorer
    (approx bound + exact, GraphSearcher.java:451-487) with a two-tier
    term split:

    - **Sparse terms** (≤ ``sparse_limit`` postings in this query's working
      set) are decoded EXACTLY upfront — microseconds of work. A sparse
      term's one block spans nearly the whole doc space; bounding it would
      add its full upper bound to every segment and strangle pruning (this
      is the rerank-tier analog: exact scores where exactness is cheap).
    - **Dense terms**' block doc-ranges [base, max_doc_id] induce a
      piecewise-constant upper-bound function over doc space; each
      segment's bound = dense UB sum + the max exact sparse contribution
      inside the segment. Bounds are DERIVED from stored (max_tf, min_dl)
      and current global stats — still valid (BM25 monotone in tf, anti-
      monotone in dl) after incremental extends change n_docs/avgdl.

    Sweep segments in descending bound order; decode only blocks
    overlapping segments that can still beat the current k-th score θ
    (skip iff UB < θ — ties must be processed so the smaller-doc_id winner
    is found, mirroring NodeQueue.java:104-129). Segments partition doc
    space and sparse-only docs outside dense coverage enter the heap with
    complete scores, so the result equals the unpruned path exactly.
    ``dead`` (sorted tombstoned doc_ids) are masked before scoring so
    deleted docs neither fill nor shadow result slots; ``accept`` (sorted
    doc_ids) restricts the result universe — the Bits-acceptOrds predicate
    filter of GraphSearcher.java:202-205 (Q8).
    Returns (doc_ids, scores, blocks_decoded, blocks_skipped).
    """
    lo = np.asarray(pdf["base"], np.int64)
    hi = np.asarray(pdf["max_doc_id"], np.int64)
    idf = np.asarray(pdf["idf"], np.float64)
    weight = np.asarray(pdf["weight"], np.float64)
    ns = np.asarray(pdf["n"], np.int64)
    term = np.asarray(pdf["term_id"], np.int64)
    max_tf = np.asarray(pdf["max_tf"], np.float64)
    min_dl = np.asarray(pdf["min_dl"], np.float64)
    nb = len(lo)
    ub = (
        weight * idf * max_tf
        / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl))
    )
    packed = {
        c: np.asarray(pdf[c], object)
        for c in ("doc_ids_packed", "tfs_packed", "dls_packed")
    }
    packed.update(n=ns, base=lo)
    wi = weight * idf

    n_decoded = 0

    def batch_decode(bis: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Decode MANY blocks at once (:func:`codec.decode_blocks`, three
        varint calls); returns flat (docs, contribs) across the given block
        indices."""
        nonlocal n_decoded
        n_decoded += len(bis)
        row, docs, tf, dl = decode_blocks(packed, bis)
        tf = tf.astype(np.float64)
        dl = dl.astype(np.float64)
        contrib = wi[row] * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))
        if dead is not None and len(dead):
            alive = ~np.isin(docs, dead, assume_unique=False)
            docs, contrib = docs[alive], contrib[alive]
        if accept is not None:
            keep = np.isin(docs, accept, assume_unique=False)
            docs, contrib = docs[keep], contrib[keep]
        return docs, contrib

    # --- split terms: sparse -> exact upfront, dense -> bounded ----------
    uniq_t, inv_t = np.unique(term, return_inverse=True)
    term_total = np.bincount(inv_t, weights=ns.astype(np.float64))
    sparse_blk = term_total[inv_t] <= sparse_limit

    sd_all, sc_all = batch_decode(np.flatnonzero(sparse_blk))
    if len(sd_all):
        usd, inv = np.unique(sd_all, return_inverse=True)
        usc = np.bincount(inv, weights=sc_all)
    else:
        usd = np.zeros(0, dtype=np.int64)
        usc = np.zeros(0, dtype=np.float64)

    d_idx = np.flatnonzero(~sparse_blk)
    if len(d_idx) == 0:
        sel = np.lexsort((usd, -usc))[:k]
        return usd[sel], usc[sel], n_decoded, 0

    # --- dense segments: piecewise-constant upper bound over doc space ---
    lo_d, hi_d, ub_d = lo[d_idx], hi[d_idx], ub[d_idx]
    bounds = np.unique(np.concatenate([lo_d, hi_d + 1]))
    seg_lo = bounds[:-1]
    seg_hi = bounds[1:]  # exclusive
    n_seg = len(seg_lo)
    delta = np.zeros(n_seg + 1, dtype=np.float64)
    li = np.searchsorted(seg_lo, lo_d)
    ri = np.searchsorted(seg_lo, hi_d + 1)
    np.add.at(delta, li, ub_d)
    np.add.at(delta, ri, -ub_d)
    seg_ub = np.cumsum(delta[:-1])

    # sparse side of each segment's bound: the max exact sparse
    # contribution of any doc in the segment's range (exact, not a bound)
    if len(usd):
        sl = np.searchsorted(usd, seg_lo)
        sr = np.searchsorted(usd, seg_hi)
        seg_smax = np.zeros(n_seg, dtype=np.float64)
        nz = np.flatnonzero(sl < sr)
        if len(nz):
            usc_ext = np.append(usc, -np.inf)  # sentinel: allows index len
            ind = np.empty(2 * len(nz), dtype=np.int64)
            ind[0::2] = sl[nz]
            ind[1::2] = sr[nz]
            seg_smax[nz] = np.maximum.reduceat(usc_ext, ind)[0::2]
        seg_ub = seg_ub + seg_smax

    order = np.argsort(-seg_ub, kind="mergesort")
    # chunk rank of each segment: position of its chunk in the sweep
    CHUNK = 32
    seg_chunk = np.empty(n_seg, dtype=np.int64)
    seg_chunk[order] = np.arange(n_seg) // CHUNK
    n_chunks = int(seg_chunk.max()) + 1
    # a block becomes needed at the FIRST chunk containing any of its
    # segments; group block indices by that chunk so each block is batch-
    # decoded exactly once, right when the sweep first touches it
    seg_chunk_ext = np.append(seg_chunk, np.iinfo(np.int64).max)  # sentinel
    ind = np.empty(2 * len(d_idx), dtype=np.int64)
    ind[0::2] = li
    ind[1::2] = ri
    blk_first_chunk = np.minimum.reduceat(seg_chunk_ext, ind)[0::2]
    chunk_order = np.argsort(blk_first_chunk, kind="mergesort")
    chunk_starts = np.searchsorted(blk_first_chunk[chunk_order], np.arange(n_chunks + 1))

    # sparse-only docs outside dense coverage have complete scores already
    top_docs = np.zeros(0, dtype=np.int64)
    top_scores = np.zeros(0, dtype=np.float64)
    if len(usd):
        outside = (usd < seg_lo[0]) | (usd >= seg_hi[-1])
        if outside.any():
            od, oc = usd[outside], usc[outside]
            sel = np.lexsort((od, -oc))[:k]
            top_docs, top_scores = od[sel], oc[sel]
            usd, usc = usd[~outside], usc[~outside]
    theta = top_scores[k - 1] if len(top_scores) >= k else -math.inf

    # postings bucketed by chunk rank AT DECODE TIME (each posting sorted
    # exactly once); the sweep then just drains its chunk's bucket
    chunk_buckets: dict[int, list[tuple[np.ndarray, np.ndarray]]] = {}

    def bucket_postings(docs: np.ndarray, contrib: np.ndarray) -> None:
        if not len(docs):
            return
        ranks = seg_chunk[np.searchsorted(seg_lo, docs, side="right") - 1]
        o = np.argsort(ranks, kind="stable")
        docs, contrib, ranks = docs[o], contrib[o], ranks[o]
        cut = np.flatnonzero(np.diff(ranks)) + 1
        starts = np.concatenate(([0], cut))
        ends = np.concatenate((cut, [len(ranks)]))
        for s, e in zip(starts, ends):
            chunk_buckets.setdefault(int(ranks[s]), []).append(
                (docs[s:e], contrib[s:e])
            )

    if len(usd):
        bucket_postings(usd, usc)

    # Sweep segments in UB-desc order in CHUNKS: per chunk, newly needed
    # blocks are bulk-decoded (three varint calls for the whole chunk) and
    # the chunk's postings drained from its bucket. The pruning rule
    # applies at chunk granularity — a chunk is skipped only when its best
    # segment's UB < theta — so results stay exactly equal to the unpruned
    # path.
    for ci in range(n_chunks):
        if len(top_docs) >= k and seg_ub[order[ci * CHUNK]] < theta:
            break  # order is UB-desc: no later chunk can beat theta
        s, e = chunk_starts[ci], chunk_starts[ci + 1]
        if e > s:
            nd, nc = batch_decode(d_idx[chunk_order[s:e]])
            bucket_postings(nd, nc)
        parts = chunk_buckets.pop(ci, None)
        if not parts:
            continue
        d = np.concatenate([p[0] for p in parts])
        c = np.concatenate([p[1] for p in parts])
        ud, inv = np.unique(d, return_inverse=True)
        sc = np.bincount(inv, weights=c)
        # merge into running top-k (each segment lives in exactly one
        # chunk, so no doc is ever double-counted)
        top_docs = np.concatenate([top_docs, ud])
        top_scores = np.concatenate([top_scores, sc])
        sel = np.lexsort((top_docs, -top_scores))[:k]
        top_docs, top_scores = top_docs[sel], top_scores[sel]
        if len(top_docs) >= k:
            theta = top_scores[-1]

    return top_docs, top_scores, n_decoded, nb - n_decoded


def _wand_query(
    sub: dict, qid: int,
    k: int, k1: float, b: float, avgdl: float, with_metrics: bool,
    dead: np.ndarray | None = None,
    accept: np.ndarray | None = None,
    offset: int = 0,
) -> pd.DataFrame:
    """One query's output rows from its posting blocks ``sub`` (column
    arrays, with ``weight`` and ``idf``): the WAND kernel, then ranks
    (offset, offset+k] and, ``with_metrics``, its search-cost columns."""
    # pagination (Q9 resume analog): compute top-(offset+k) exactly,
    # emit ranks (offset, offset+k] — a batch engine re-derives the
    # skipped prefix instead of holding cursor state
    t0 = time.perf_counter() if with_metrics else 0.0
    docs, scores, dec, skip = wand_topk_arrays(
        sub, offset + k, k1, b, avgdl, dead, accept
    )
    kernel_ms = (time.perf_counter() - t0) * 1e3
    docs, scores = docs[offset:], scores[offset:]
    out = pd.DataFrame(
        {
            "query_id": np.full(len(docs), qid, dtype=np.int32),
            "rank": np.arange(offset + 1, offset + len(docs) + 1, dtype=np.int32),
            "doc_id": docs,
            "score": scores,
        }
    )
    if with_metrics:
        # per-query search-cost + latency counters (SearchResult.java's
        # visited/expanded + LatencyBenchmark.java:30-80 percentiles
        # feed off this column in bench.py)
        out["blocks_decoded"] = np.int32(dec)
        out["blocks_skipped"] = np.int32(skip)
        out["kernel_ms"] = np.float64(kernel_ms)
    return out


def _block_order(blocks: pd.DataFrame) -> pd.DataFrame:
    """``blocks`` in (term_id, base) order, which identifies a block. The
    kernel sums each doc's contributions in block order, so fixing the
    order fixes the score bits whatever order a shuffle or a file read
    delivered the blocks in."""
    return blocks.take(
        np.lexsort((blocks["base"].to_numpy(), blocks["term_id"].to_numpy()))
    )


def _wand_queries(
    blocks: pd.DataFrame, queries,
    k: int, k1: float, b: float, avgdl: float, with_metrics: bool,
    dead: np.ndarray | None = None,
    accept: np.ndarray | None = None,
    offset: int = 0,
) -> pd.DataFrame:
    """WAND top-k of each ``(query_id, (term_ids, weights, idfs))`` in
    ``queries`` over ``blocks``, which hold each block of their terms once:
    the body of a Spark bucket task and of a driver-side read alike. Each
    query gathers its terms' blocks, in block order, and runs
    :func:`_wand_query`."""
    blocks = _block_order(blocks)
    cols = {c: blocks[c].to_numpy() for c in _WAND_COLS}
    term = cols["term_id"]
    outs = []
    for qid, (tids, weights, idfs) in queries:
        rows = np.flatnonzero(np.isin(term, tids))
        if len(rows):
            o = np.argsort(tids)
            at = o[np.searchsorted(tids, term[rows], sorter=o)]
            sub = {c: a[rows] for c, a in cols.items()}
            sub["weight"], sub["idf"] = weights[at], idfs[at]
            outs.append(
                _wand_query(
                    sub, qid, k, k1, b, avgdl, with_metrics, dead, accept, offset
                )
            )
    if outs:
        return pd.concat(outs, ignore_index=True)
    return pd.DataFrame(
        {
            "query_id": np.zeros(0, np.int32),
            "rank": np.zeros(0, np.int32),
            "doc_id": np.zeros(0, np.int64),
            "score": np.zeros(0, np.float64),
            **(
                {
                    "blocks_decoded": np.zeros(0, np.int32),
                    "blocks_skipped": np.zeros(0, np.int32),
                    "kernel_ms": np.zeros(0, np.float64),
                }
                if with_metrics
                else {}
            ),
        }
    )


def _wand_bucket_fn(bucket_queries_bc, **kernel):
    """Kernel for the bucketed gather: the group holds each matched block
    ONCE per bucket; ``bucket_queries_bc`` (a Spark BROADCAST of the
    query-batch-sized dict) lists each bucket's queries as
    (query_id, (term_ids, weights, idfs)). A broadcast — not a plain
    closure — because the driver pickles a task's closure PER TASK on the
    scheduler thread: at 5000 queries the spec dict is MBs, and that
    serial per-task cost was measured as the stage that stopped the batch
    query from scaling past ~0.5 efficiency at 2→8 cores (the broadcast
    ships once per worker instead). Each query selects its terms' blocks
    from the group and runs the standard per-query WAND kernel —
    the same math and tie-breaks whatever the bucket count, ~queries-per-
    term/buckets less shuffle+Arrow traffic than a per-query grouping."""

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return _wand_queries(
            pdf, bucket_queries_bc.value.get(int(key[0]), ()), **kernel
        )

    return fn


# The Spark path's bucket count is sized by the QUERY BATCH, never by
# parallelism: the shuffled volume is Σ_buckets |blocks(bucket's terms)| —
# hot Zipf terms appear in most buckets, so volume grows with bucket count,
# and a core-derived count would make the hi-parallelism leg shuffle MORE
# bytes for the same batch (the same principle as data-sized shuffle
# partitions). ~64 queries a bucket amortizes each bucket's block set; the
# floor keeps small batches parallel across a few dozen tasks.
QUERIES_PER_BUCKET = 64
MIN_QUERY_BUCKETS = 32


def query_buckets(n_queries: int) -> int:
    """Buckets for a Spark-path batch of ``n_queries`` (≥ 1) queries."""
    return min(n_queries, max(MIN_QUERY_BUCKETS, -(-n_queries // QUERIES_PER_BUCKET)))


# The sizing rule between the two pruned paths. A batch runs on the driver
# when both the postings its kernels could decode (Σ_q Σ_{t∈q} df_t, known
# from the dictionary lookup) and the bytes of the part files it would open
# are under these constants; otherwise the Spark path runs.
#
# Postings, measured on local[4] over the seed-1 serve_mixed index (6,000
# turns, 0.2 MB of postings), median of 3 warm batches:
#   queries   Σdf     Spark path  driver path
#         1       7      638 ms       65 ms
#        50     86k    1,835 ms      187 ms
#       200    315k    1,816 ms      732 ms
#     1,000   1.61M    2,722 ms    2,981 ms
# The driver costs ~1.7 ms and Spark ~0.7 ms per 1k postings, so the
# crossover is near 1.4M; 2^20 keeps the driver on the winning side, and
# 1000-query batches (and anything larger) stay on Spark.
DRIVER_MAX_POSTINGS = 1 << 20
# Bytes, measured on local[4] with a one-term read through pyarrow's
# term_id filter vs a Spark scan + applyInPandas over the same 4 files:
#   14 MB: 10 vs 519 ms; 57 MB: 34 vs 539 ms; 226 MB: 105 vs 461 ms.
# No crossover below 226 MB (extrapolated: ~1 GB); the cap stays inside
# the measured range, which also bounds what one read can pull into the
# driver process.
DRIVER_MAX_BYTES = 1 << 28

# the columns the WAND kernel reads from a postings block
_WAND_COLS = [
    "term_id", "n", "base", "max_doc_id", "max_tf", "min_dl",
    "doc_ids_packed", "tfs_packed", "dls_packed",
]


def _driver_files(index_dir: str, parts: list[int], n_postings: int) -> list[str] | None:
    """The postings files a driver-side read of ``parts`` opens, or None
    when the read is too large for the driver (the rule above)."""
    if n_postings >= DRIVER_MAX_POSTINGS:
        return None
    files = postings_files(index_dir, parts)
    if sum(os.path.getsize(f) for f in files) >= DRIVER_MAX_BYTES:
        return None
    return files


def bm25_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    k: int = 10,
    prune: bool = True,
    with_metrics: bool = False,
    offset: int = 0,
    global_stats: dict | None = None,
    global_df: DataFrame | None = None,
    accept_ids: np.ndarray | None = None,
) -> DataFrame:
    """BM25 top-k over the index. ``prune=False`` is the relational exact
    path; ``prune=True`` runs Block-Max WAND (results must be identical —
    the ``usePruning`` escape hatch mirrors Bench.java:56). Tombstoned
    docs (index/maintenance.delete_docs) are masked on both paths.
    ``offset`` pages past the first ``offset`` results (Q9 resume analog,
    GraphSearcher.java:489-527). Both index layouts run this one body
    with every parameter; they differ only in the part directories a read
    opens (:func:`storage.postings_parts`).

    ``global_stats`` ({n_docs, avgdl}) and ``global_df`` (term → corpus
    df) override shard-local statistics so a shard of a sharded index
    scores with CORPUS-wide BM25 constants (format v2 derives block bounds
    from (max_tf, min_dl) + these stats at query time, so pruning stays
    lossless under overridden stats too).

    ``accept_ids`` (sorted int64 array) restricts results to those doc ids
    INSIDE the WAND kernel (the Bits-acceptOrds mask, Q8) — the bucketed
    gather then serves filtered batches with the same ≤ buckets× block
    shuffle as unfiltered ones; only the pruned path supports it.

    A pruned batch under the sizing rule (:data:`DRIVER_MAX_POSTINGS`,
    :data:`DRIVER_MAX_BYTES`) runs on the driver and returns a local
    relation: no Spark job. The Spark path deals the batch into
    :func:`query_buckets` buckets."""
    if not prune:
        if accept_ids is not None:
            raise ValueError("accept_ids requires the pruned (WAND) path")
        return bm25_topk_indexed_unpruned(
            spark, index_dir, qterms, k, offset, global_stats, global_df
        )
    seg = read_segments(spark, index_dir)
    if global_stats:
        seg = {**seg, **global_stats}
    dead_set = tombstone_ids(spark, index_dir)
    dead = (
        np.sort(np.fromiter(dead_set, dtype=np.int64)) if dead_set else None
    )
    schema = "query_id int, rank int, doc_id long, score double"
    if with_metrics:
        schema += ", blocks_decoded int, blocks_skipped int, kernel_ms double"

    qd_rows = lookup_terms(spark, index_dir, qterms, seg, global_df)
    qspec: dict = {}
    n_postings = 0
    for qid, tid, weight, idf_v, _, df in qd_rows:
        # duplicate (query, term) rows sum their weights
        tmap = qspec.setdefault(qid, {})
        if tid not in tmap:
            n_postings += df
        w, i_ = tmap.get(tid, (0.0, idf_v))
        tmap[tid] = (w + weight, i_)
    if not qspec:
        # no query term matched the dictionary (OOV batch, or a shard whose
        # local vocabulary lacks every term): an empty result — never
        # repartition(0), which raises
        return local_relation(spark, [], schema)
    queries = [
        (
            int(qid),
            (
                np.fromiter(spec.keys(), dtype=np.int64),
                np.fromiter((v[0] for v in spec.values()), dtype=np.float64),
                np.fromiter((v[1] for v in spec.values()), dtype=np.float64),
            ),
        )
        for qid, spec in sorted(qspec.items())
    ]
    kernel = dict(
        k=k, k1=seg["k1"], b=seg["b"], avgdl=seg["avgdl"],
        with_metrics=with_metrics, dead=dead, accept=accept_ids, offset=offset,
    )
    parts, term_ids = _read_set(
        seg, "postings", ((tid, ns) for _, tid, _, _, ns, _ in qd_rows)
    )
    files = _driver_files(index_dir, parts, n_postings)
    if files is not None:
        # driver path: the part files' blocks of the queried terms, read
        # with pyarrow, through the same kernel body a bucket task runs
        blocks = read_files(
            files, _WAND_COLS, pc.field("term_id").isin(term_ids)
        ).to_pandas()
        return local_relation(spark, _wand_queries(blocks, queries, **kernel), schema)

    # Bucketed gather (the 2→8-core scaling fix): grouping by query_id
    # replicates each posting block once per query that matches its term —
    # for a 5000-query batch over a shared vocabulary that is a memory-
    # bandwidth-bound shuffle + Arrow transfer which stops scaling inside
    # one box long before the (parallelism-independent) WAND kernel does.
    # Instead, queries are dealt round-robin into buckets and each block
    # ships once per BUCKET that needs its term (≤ buckets times total, vs
    # ≤ queries times); the kernel loops the bucket's queries in-task.
    # Math, tie-breaks, metrics and pagination do not depend on the bucket
    # count (pytest-enforced).
    n_buckets = query_buckets(len(queries))
    bucket_queries: dict[int, list] = {}
    tb_pairs = set()
    for i, (qid, arrs) in enumerate(queries):
        bkt = i % n_buckets
        bucket_queries.setdefault(bkt, []).append((qid, arrs))
        tb_pairs.update((int(t), bkt) for t in arrs[0])
    tb = local_relation(
        spark, sorted(tb_pairs), "term_id long, bucket int"
    )
    bq_bc = spark.sparkContext.broadcast(bucket_queries)
    blocks = _scan(spark, index_dir, "postings", parts, term_ids).join(
        F.broadcast(tb), "term_id"
    )
    return (
        blocks.select("bucket", *_WAND_COLS)
        # one shuffle partition PER BUCKET: under the session default (32)
        # several buckets hash-collide into one partition and the tail
        # task serializes 4-6 buckets' kernels — a straggler that costs
        # nothing at low parallelism and ~20% wall at 8+ cores. groupBy
        # reuses this exchange (partitioning satisfies the distribution).
        .repartition(n_buckets, "bucket")
        .groupBy("bucket")
        .applyInPandas(_wand_bucket_fn(bq_bc, **kernel), schema=schema)
    )


def bm25_topk_prefix(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    k: int = 10,
    query_id: int = 0,
    prune: bool = True,
    **kwargs,
) -> DataFrame:
    """(rank, doc_id, score) — wildcard/prefix query ``prefix*``: expand
    against the ``dictionary`` table (a metadata-sized range scan — the
    hierarchy-descent idiom of Q3: narrow through the small relation before
    touching postings), then answer ONE multi-term batch over the expanded
    term set, weight 1 per matched term (Lucene's MultiTermQuery BM25-sum
    rewrite). The expanded terms ride the normal directory-pruned WAND
    path, so only their posting blocks are read. Must match the brute
    ``operators.topk.prefix_topk_bruteforce`` rank-identically; a prefix
    matching no dictionary term returns no rows. The expansion is a pyarrow
    ``starts_with`` filter on the dictionary's ``term`` (no Spark job)."""
    if not prefix:
        raise ValueError("prefix must be non-empty")
    terms = read_dictionary(
        index_dir, pc.starts_with(pc.field("term"), pattern=prefix)
    )["term"].to_pylist()
    qterms = local_relation(
        spark,
        [(int(query_id), t, 1.0) for t in terms],
        "query_id long, term string, weight double",
    )
    return bm25_topk_indexed(
        spark, index_dir, qterms, k=k, prune=prune, **kwargs
    ).select("rank", "doc_id", "score")


def tfidf_topk_indexed(
    spark: SparkSession, index_dir: str, qterms: DataFrame, k: int = 10
) -> DataFrame:
    """Index-backed TF-IDF top-k (Q11's second exact scoring kernel over
    the same fused posting blocks): decode matched blocks (directory-pruned
    like the BM25 path), score ``weight · (1+ln tf) · ln(1 + N/df)``
    JVM-side, window top-k. Must equal the brute-force tfidf oracle
    (hash-checked by the driver)."""
    seg = read_segments(spark, index_dir)
    return _ranked(_scored(spark, index_dir, qterms, seg, idf="tfidf"), k)


def threshold_search_indexed(
    spark: SparkSession, index_dir: str, qterms: DataFrame, theta: float
) -> DataFrame:
    """All (query_id, doc_id, score) with score ≥ θ (reference analog:
    threshold search, GraphSearcher.java:192-196 / Q7) — exact and cheap in
    batch: score-all then filter."""
    seg = read_segments(spark, index_dir)
    return _scored(spark, index_dir, qterms, seg).filter(F.col("score") >= theta)


# ---------------------------------------------------------------------------
# predicate-filtered search (Bits acceptOrds analog, Q8)
# ---------------------------------------------------------------------------

# above this many accepted ids, stop shipping the mask into the WAND kernel
# and switch to the join-filtered relational plan — same crossover
# reasoning as Spark's own broadcast-join threshold
ACCEPT_BROADCAST_LIMIT = 5_000_000


def bm25_topk_indexed_filtered(
    spark: SparkSession,
    index_dir: str,
    qterms: DataFrame,
    accept: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Top-k restricted to the docs in ``accept`` (a DataFrame with a
    ``doc_id`` column — typically the output of any predicate over
    ``doc_map`` or the source table). Reference analog: the ``Bits
    acceptOrds`` result-universe filter (GraphSearcher.java:202-205,
    TestLowCardinalityFiltering.java:53-57).

    Physical strategy, chosen like the reference chooses filter strategy by
    selectivity: a *selective* predicate (at most
    :data:`ACCEPT_BROADCAST_LIMIT` ids) ships its sorted ids into the
    Block-Max WAND kernel of :func:`bm25_topk_indexed` as ``accept_ids``
    (pruning stays lossless: unfiltered block bounds still upper-bound
    filtered scores). A *broad* predicate runs the relational read with the
    accept set hash-joined on doc_id. Both paths return identical results
    (tested). One bounded collect of the distinct ids serves both the
    strategy choice and the mask, so ``accept`` is evaluated once."""
    rows = (
        accept.select("doc_id").distinct().limit(ACCEPT_BROADCAST_LIMIT + 1).collect()
    )
    if len(rows) <= ACCEPT_BROADCAST_LIMIT:
        ids = np.sort(np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows)))
        return bm25_topk_indexed(
            spark, index_dir, qterms, k=k, prune=True, accept_ids=ids
        )
    seg = read_segments(spark, index_dir)
    return _ranked(_scored(spark, index_dir, qterms, seg, accept=accept), k)
