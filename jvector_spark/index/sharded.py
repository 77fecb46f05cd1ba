"""Sharded (multi-executor-group) index: N self-contained shard indexes +
a corpus-wide statistics merge + a scatter-gather query merge.

This is the 1000-executor deployment shape of the engine: each executor
group (or each of N spark-submit jobs) builds a complete term-partitioned
index over ITS document shard — embarrassingly parallel across shards, no
cross-shard shuffle at build time — then one cheap vocabulary-sized merge
pass derives the corpus-wide statistics BM25 needs (n_docs, avgdl, per-term
df). Queries fan out to every shard with the global stats overriding the
shard-local ones (format v2 derives block bounds from (max_tf, min_dl) +
current stats at query time, so per-shard Block-Max pruning stays lossless
under global stats), and a rerankFloor merge takes the global top-k.

Reference analog: searching several indexes and merging with a shared
rerank floor (Q10, GraphSearcher.java:196-201,368-386), and the
OrdinalMapper keeping per-segment ordinals consistent under a global view
(jvector-base/.../graph/disk/OrdinalMapper.java).

Determinism contract: the global doc_id order is (shard_id, conv-order
within shard) — shard i's ids occupy the dense range
[offset_i, offset_i + n_i). Scores are EXACTLY the single-index scores
(global idf/avgdl/n_docs; tf/dl are per-doc facts), so a sharded corpus
answers rank-identically to one monolithic index up to id-relabeling
(tie-broken by the shard-ordered ids; tested with tie-robust comparison).

Scale notes: shard builds touch only their shard (1/N of the corpus each);
the stats merge reads one segments row per shard plus the vocabulary-sized
dictionaries (never postings); the query union executes every shard's
block fetch + WAND kernel inside ONE Spark job (independent stages run
concurrently), and the final merge window sees only shards × queries × k
rows.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .query import bm25_topk_indexed
from .storage import arrow_rows, read_local, read_segments, read_table, write_local

GLOBAL_DIR = "_global"


def shard_corpus(
    src: DataFrame, n_shards: int, shard_col: str = "conv_id"
) -> list[DataFrame]:
    """Split a raw corpus into ``n_shards`` disjoint covering shards by a
    deterministic hash range of ``shard_col`` (documents of one
    conversation never straddle shards). Each element is a lazy filter of
    ``src`` — on a real cluster each shard job reads only its slice
    (predicate pushed to the scan)."""
    return [
        src.filter(F.pmod(F.xxhash64(shard_col), F.lit(n_shards)) == i)
        for i in range(n_shards)
    ]


def build_shard(
    shard: DataFrame,
    shard_dir: str,
    order_cols: list[str],
    id_offset: int = 0,
    **build_kwargs,
) -> dict:
    """Build one shard's complete index with its doc_ids shifted into the
    shard's global range. A thin wrapper over the fused transcripts build —
    each shard build is an independent job with zero cross-shard traffic."""
    from .build import build_index_transcripts

    return build_index_transcripts(
        shard, shard_dir, order_cols, id_offset=id_offset, **build_kwargs
    )


def merge_shard_stats(spark: SparkSession, shard_dirs: list[str]) -> dict:
    """The one cross-shard pass: derive corpus-wide (n_docs, avgdl) from
    the shards' segments rows and the corpus-wide per-term df/cf from the
    shards' dictionaries, writing them under ``<first shard>/_global``.
    Cost is O(shards) rows + O(vocabulary) rows — postings are never read.
    Returns the global stats dict."""
    segs = [read_segments(spark, d) for d in shard_dirs]
    n_docs = sum(int(s["n_docs"]) for s in segs)
    avgdl = (
        sum(float(s["avgdl"]) * int(s["n_docs"]) for s in segs) / n_docs
        if n_docs
        else 0.0
    )
    gdf = None
    for d in shard_dirs:
        dct = read_table(spark, d, "dictionary").select("term", "df", "cf")
        gdf = dct if gdf is None else gdf.unionByName(dct)
    gdct = gdf.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"), F.sum("cf").cast("long").alias("cf")
    )
    out = os.path.join(shard_dirs[0], GLOBAL_DIR)
    gdct.write.mode("overwrite").parquet(os.path.join(out, "dictionary"))
    write_local(
        arrow_rows([(n_docs, float(avgdl), len(shard_dirs))],
                   "n_docs long, avgdl double, n_shards int"),
        out, "stats", mode="overwrite",
    )
    return {"n_docs": n_docs, "avgdl": float(avgdl), "global_dir": out}


def read_global_stats(spark: SparkSession, shard_dirs: list[str]) -> tuple[dict, DataFrame]:
    out = os.path.join(shard_dirs[0], GLOBAL_DIR)
    row = read_local(out, "stats").slice(0, 1).to_pylist()[0]
    gdf = spark.read.parquet(os.path.join(out, "dictionary"))
    return {"n_docs": int(row["n_docs"]), "avgdl": float(row["avgdl"])}, gdf


def bm25_topk_sharded(
    spark: SparkSession,
    shard_dirs: list[str],
    qterms: DataFrame,
    k: int = 10,
    prune: bool = True,
) -> DataFrame:
    """Global BM25 top-k over a sharded index: per-shard WAND top-k under
    the merged corpus stats, then the rerankFloor merge (Q10) — the union
    of the shards' plans executes as ONE Spark job, so shard searches run
    concurrently; the merge window sees only shards × queries × k rows."""
    gstats, gdf = read_global_stats(spark, shard_dirs)
    parts = None
    for d in shard_dirs:
        t = bm25_topk_indexed(
            spark, d, qterms, k=k, prune=prune,
            global_stats=gstats, global_df=gdf,
        ).select("query_id", "doc_id", "score")
        parts = t if parts is None else parts.unionByName(t)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        parts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def build_sharded(
    src: DataFrame,
    base_dir: str,
    n_shards: int,
    order_cols: list[str],
    shard_col: str = "conv_id",
    **build_kwargs,
) -> list[str]:
    """Convenience single-driver sharded build: shard, count, build each
    shard at its global id offset, merge stats. (The multi-PROCESS variant
    — one spark-submit per shard, the true N-executor-group deployment —
    drives `build_shard` directly; see bench.py's sharded scaling section.)
    A shard that holds no document (fewer ``shard_col`` values than
    shards) is not built: its id range has zero width. Returns the dirs of
    the shards built, the ones a query reads; raises ``ValueError`` when
    ``src`` has no row, before anything is written."""
    shards = shard_corpus(src, n_shards, shard_col)
    counts = [s.count() for s in shards]
    if not any(counts):
        raise ValueError(f"empty corpus: no document to index into {base_dir}")
    offsets = [sum(counts[:i]) for i in range(n_shards)]
    dirs = []
    for i, (shard, off, n) in enumerate(zip(shards, offsets, counts)):
        if not n:
            continue
        d = os.path.join(base_dir, f"shard_{i:04d}")
        build_shard(shard, d, order_cols, id_offset=off, **build_kwargs)
        dirs.append(d)
    merge_shard_stats(src.sparkSession, dirs)
    return dirs
