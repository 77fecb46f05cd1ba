"""Generate the committed golden indexes (tests/golden/v2_index, a
term-partitioned index with positions, and tests/golden/doc_index, a
doc-partitioned index of the same corpus) and the expected query results —
the analog of the reference's committed ``version0.pq`` / ``version0.odgi``
backward-compat fixtures (jvector-tests/resources/,
TestProductQuantization.java:216-231).

Run ONCE when the on-disk format version changes; the committed artifacts
must keep loading and answering identically in every future engine build.

Usage: python tools/make_golden.py [v2_index] [doc_index]   (default: both)
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GOLDEN = os.path.join(REPO, "tests", "golden")
QUERIES = [(0, ["t0001", "t0003"]), (1, ["t0042"]), (2, ["t0007", "t0002", "t0007"])]


def build_v2(corpus, idx: str) -> None:
    from jvector_spark.index.build import build_index

    build_index(
        corpus, idx, doc_map_cols=["conv_id", "turn_idx"],
        salt_threshold=32, target_salt_postings=32, n_parts=2,
    )


def build_doc(corpus, idx: str) -> None:
    from jvector_spark.index.docpart import build_doc_partitioned

    build_doc_partitioned(corpus, idx, doc_map_cols=["conv_id", "turn_idx"], n_buckets=4)


# the index builds a fresh build must reproduce (tests/test_golden.py);
# v2_index also gets a positions table
BUILDERS = {"v2_index": build_v2, "doc_index": build_doc}


def write_expected(spark, idx: str) -> None:
    """The committed answers to QUERIES. Both layouts of the one corpus
    answer with the same rows and score bits, so every golden index is
    checked against them."""
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    res = bm25_topk_indexed(
        spark, idx, queries_df(spark, QUERIES), k=5, prune=True
    ).orderBy("query_id", "rank")
    expected = [
        {
            "query_id": r.query_id,
            "rank": r.rank,
            "doc_id": r.doc_id,
            "score_u6": int(r.score * 1e6 + 0.5),
        }
        for r in res.collect()
    ]
    with open(os.path.join(GOLDEN, "v2_expected_topk.json"), "w") as f:
        json.dump({"queries": QUERIES, "expected": expected}, f, indent=1)


def main(names: list[str]) -> None:
    from jvector_spark.fixtures import make_transcripts_pdf
    from jvector_spark.index.positions import add_positions
    from jvector_spark.operators.doc_ids import assign_dense_ids
    from jvector_spark.session import get_spark

    unknown = set(names) - set(BUILDERS)
    if unknown:
        raise SystemExit(f"unknown golden(s) {sorted(unknown)}; choose from {sorted(BUILDERS)}")
    spark = get_spark(cores=4, shuffle_partitions=4, app_name="make_golden")
    pdf = make_transcripts_pdf(n_turns=300, seed=123)
    corpus = assign_dense_ids(
        spark.createDataFrame(pdf), ["conv_id", "turn_idx"], "doc_id"
    )
    for name in names or list(BUILDERS):
        idx = os.path.join(GOLDEN, name)
        shutil.rmtree(idx, ignore_errors=True)
        BUILDERS[name](corpus, idx)
        if name == "v2_index":
            add_positions(corpus, idx)
            write_expected(spark, idx)
        # strip Spark's _SUCCESS/.crc noise to keep the committed tree clean
        for root, _dirs, files in os.walk(idx):
            for n in files:
                if n.endswith(".crc") or n == "_SUCCESS":
                    os.remove(os.path.join(root, n))
        print(idx)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
