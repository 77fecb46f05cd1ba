"""Batch CLI — the engine's job entry points for ``spark-submit``.

Reference analog: jvector's IPC service verbs (CREATE / BULKLOAD / SEARCH,
jvector-examples/.../IPCService.java:80-159) recast as batch subcommands —
on a cluster there is no daemon, just jobs:

    spark-submit --py-files dist/jvector_spark.zip -m ...   # or locally:
    python -m jvector_spark build  --source s3://.../transcripts --index s3://.../idx
    python -m jvector_spark query  --index s3://.../idx --terms "hash join" --k 10
    python -m jvector_spark stream --source /landing --index /idx --checkpoint /ckpt
    python -m jvector_spark stats  --index /idx

Build ``dist/jvector_spark.zip`` with ``python tools/make_pyfiles_zip.py``.
When run under spark-submit an active session already exists;
``get_spark`` just returns it (getOrCreate).
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .session import get_spark

    return get_spark(cores=args.cores, app_name=f"jvector_spark_{args.cmd}")


def cmd_build(args) -> int:
    from .index.build import build_index
    from .operators.doc_ids import assign_dense_ids

    spark = _spark(args)
    src = spark.read.parquet(args.source)
    order_cols = args.order_cols.split(",")
    if "doc_id" in src.columns:
        # engine-assigned dense ids own the name; the source's column stays
        # reachable through doc_map as part of the natural key
        src = src.withColumnRenamed("doc_id", "src_doc_id")
        order_cols = ["src_doc_id" if c == "doc_id" else c for c in order_cols]
    docs = assign_dense_ids(src, order_cols, "doc_id")
    if args.layout == "doc":
        from .index.docpart import build_doc_partitioned

        m = build_doc_partitioned(
            docs, args.index, doc_map_cols=order_cols, n_buckets=args.n_parts
        )
    else:
        m = build_index(
            docs,
            args.index,
            doc_map_cols=order_cols,
            n_parts=args.n_parts,
            resume=args.resume,
        )
    if args.positions:
        from .index.positions import add_positions

        m["positions"] = add_positions(docs, args.index)
    print(json.dumps(m))
    return 0


def cmd_query(args) -> int:
    from .index.query import bm25_topk_indexed
    from .operators.topk import queries_df

    spark = _spark(args)
    qterms = queries_df(spark, [(0, args.terms.split())])
    res = bm25_topk_indexed(
        spark, args.index, qterms, k=args.k, prune=not args.no_prune
    ).orderBy("rank")
    for r in res.collect():
        print(json.dumps({"rank": r.rank, "doc_id": r.doc_id, "score": r.score}))
    return 0


def cmd_stream(args) -> int:
    from .streaming import stream_index_transcripts

    spark = _spark(args)
    stream_index_transcripts(
        spark,
        args.source,
        args.index,
        args.checkpoint,
        n_parts=args.n_parts,
        available_now=not args.follow,
    )
    return 0


def cmd_shard_build(args) -> int:
    """Build ONE shard of a sharded index — submit N of these (one
    spark-submit per shard / executor group), then ``shard-merge`` once."""
    from pyspark.sql import functions as F

    from .index.sharded import build_shard

    spark = _spark(args)
    src = spark.read.parquet(args.source)
    shard = src.filter(
        F.pmod(F.xxhash64(args.shard_col), F.lit(args.n_shards)) == args.shard
    )
    m = build_shard(
        shard, args.index, args.order_cols.split(","),
        id_offset=args.id_offset, n_parts=args.n_parts,
    )
    print(json.dumps(m))
    return 0


def cmd_shard_merge(args) -> int:
    from .index.sharded import merge_shard_stats

    spark = _spark(args)
    m = merge_shard_stats(spark, args.shards.split(","))
    print(json.dumps(m))
    return 0


def cmd_shard_query(args) -> int:
    from .index.sharded import bm25_topk_sharded
    from .operators.topk import queries_df

    spark = _spark(args)
    qterms = queries_df(spark, [(0, args.terms.split())])
    res = bm25_topk_sharded(
        spark, args.shards.split(","), qterms, k=args.k
    ).orderBy("rank")
    for r in res.collect():
        print(json.dumps({"rank": r.rank, "doc_id": r.doc_id, "score": r.score}))
    return 0


def cmd_stats(args) -> int:
    from .index.storage import lineage_totals, read_segments

    spark = _spark(args)
    seg = read_segments(spark, args.index)
    postings, bytes_compressed = lineage_totals(args.index)
    print(
        json.dumps(
            {
                **{k: (float(v) if isinstance(v, float) else v) for k, v in seg.items()},
                "postings": postings,
                "bytes_compressed": bytes_compressed,
            }
        )
    )
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="jvector_spark")
    p.add_argument("--cores", default="*", help="local[N] parallelism (local runs)")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build an index over a transcripts table")
    b.add_argument("--source", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--order-cols", default="conv_id,turn_idx")
    b.add_argument("--n-parts", type=int, default=8)
    b.add_argument("--resume", action="store_true", help="finish an interrupted term-layout build")
    b.add_argument("--positions", action="store_true")
    b.add_argument(
        "--layout", choices=["term", "doc"], default="term",
        help="term = salted term-partitioned (lookup-optimal); "
        "doc = doc-partitioned (each part a doc range, same reads)",
    )
    b.set_defaults(fn=cmd_build)

    q = sub.add_parser("query", help="BM25 top-k against an index")
    q.add_argument("--index", required=True)
    q.add_argument("--terms", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument("--no-prune", action="store_true")
    q.set_defaults(fn=cmd_query)

    s = sub.add_parser("stream", help="stream-ingest a landing dir into an index")
    s.add_argument("--source", required=True)
    s.add_argument("--index", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--n-parts", type=int, default=8)
    s.add_argument("--follow", action="store_true", help="keep running (no availableNow)")
    s.set_defaults(fn=cmd_stream)

    sb = sub.add_parser(
        "shard-build",
        help="build one shard of a sharded index (submit one per executor group)",
    )
    sb.add_argument("--source", required=True)
    sb.add_argument("--index", required=True, help="this shard's index dir")
    sb.add_argument("--shard", type=int, required=True)
    sb.add_argument("--n-shards", type=int, required=True)
    sb.add_argument("--shard-col", default="conv_id")
    sb.add_argument("--id-offset", type=int, default=0)
    sb.add_argument("--order-cols", default="conv_id,turn_idx")
    sb.add_argument("--n-parts", type=int, default=8)
    sb.set_defaults(fn=cmd_shard_build)

    sm = sub.add_parser("shard-merge", help="merge corpus-wide stats across shards")
    sm.add_argument("--shards", required=True, help="comma-separated shard dirs")
    sm.set_defaults(fn=cmd_shard_merge)

    sq = sub.add_parser("shard-query", help="scatter-gather BM25 over shards")
    sq.add_argument("--shards", required=True)
    sq.add_argument("--terms", required=True)
    sq.add_argument("--k", type=int, default=10)
    sq.set_defaults(fn=cmd_shard_query)

    st = sub.add_parser("stats", help="print index header + lineage totals")
    st.add_argument("--index", required=True)
    st.set_defaults(fn=cmd_stats)

    args = p.parse_args(argv)
    if args.cmd == "build" and args.resume and args.layout == "doc":
        b.error("--resume supports --layout term only")
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
