"""Generate the committed golden VECTOR-TIER structures
(tests/golden/{pq,sq8,bq,nvq,ivf}_index) and their expected top-k results — the
``version0.pq`` idiom applied to the persisted compressed-vector formats
(jvector-tests/resources/version0.pq, TestProductQuantization.java:216-231).

A format-breaking change to jvector_spark/index/vectors.py (manifest
layout, codes schema, codebook/params encoding) must fail
tests/test_golden.py WITHOUT regenerating these artifacts.

Run ONCE per deliberate format-version bump:
``python tools/make_golden_vectors.py [tier ...]`` — with tier args, only
the named tiers are rebuilt and merged into the existing expected JSON
(used when a NEW tier joins the golden set without touching the
committed artifacts of the others).
"""

from __future__ import annotations

import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from jvector_spark.index import vectors as V  # noqa: E402

GOLDEN = os.path.join(REPO, "tests", "golden")

# fixed query set: golden embeddings' own vec_ids (self-match included —
# rank 1 is the query vector itself, a stable anchor for the comparison)
QUERY_VEC_IDS = [0, 17, 255]
K = 8


# the structures a fresh build over ``make_embeddings(spark)`` must
# reproduce (tests/test_vector_sides.py), by tier, in generation order. Small
# PQ m/k keeps the committed codebooks parquet tiny (dim=32 → m=4 subspaces
# of 8 dims, 16 centroids each)
BUILDERS = {
    "pq": lambda emb, d: V.pq_build(emb, d, m=4, n_clusters=16, seed=99),
    "sq8": V.sq8_build,
    "bq": V.bq_build,
    "nvq": V.nvq_build,
    "ivf": lambda emb, d: V.ivf_build(emb, d, n_clusters=8, n_iters=4, seed=77),
}


def _strip_noise(path: str) -> None:
    for root, _dirs, files in os.walk(path):
        for n in files:
            if n.endswith(".crc") or n == "_SUCCESS":
                os.remove(os.path.join(root, n))


def main() -> None:
    from jvector_spark.fixtures import make_embeddings, make_embeddings_pdf
    from jvector_spark.session import get_spark

    spark = get_spark(cores=4, shuffle_partitions=4, app_name="make_golden_vectors")
    emb = make_embeddings(spark).cache()
    pdf = make_embeddings_pdf()

    dirs = {t: os.path.join(GOLDEN, f"{t}_index") for t in BUILDERS}
    only = set(sys.argv[1:]) or set(dirs)
    dirs = {t: d for t, d in dirs.items() if t in only}
    for d in dirs.values():
        shutil.rmtree(d, ignore_errors=True)
    for tier, d in dirs.items():
        BUILDERS[tier](emb, d)

    runners = {
        "pq": V.ann_topk_pq_indexed,
        "sq8": V.ann_topk_sq8_indexed,
        "bq": V.ann_topk_bq_indexed,
        "nvq": V.ann_topk_nvq_indexed,
        "ivf": V.ivf_topk_indexed,
    }
    runners = {t: f for t, f in runners.items() if t in dirs}
    expected: dict = {"query_vec_ids": QUERY_VEC_IDS, "k": K, "tiers": {}}
    exp_path = os.path.join(GOLDEN, "vec_expected_topk.json")
    if set(sys.argv[1:]) and os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f)  # merge new tiers into the committed set
    for tier, fn in runners.items():
        per_query = []
        for vid in QUERY_VEC_IDS:
            qv = pdf.loc[pdf["vec_id"] == vid, "embedding"].iloc[0]
            rows = fn(spark, dirs[tier], emb, list(qv), k=K).collect()
            per_query.append(
                [
                    {
                        "rank": r.rank,
                        "vec_id": r.vec_id,
                        "cos_u9": int(r.cos * 1e9 + 0.5),
                    }
                    for r in rows
                ]
            )
        expected["tiers"][tier] = per_query

    with open(os.path.join(GOLDEN, "vec_expected_topk.json"), "w") as f:
        json.dump(expected, f, indent=1)
    for d in dirs.values():
        _strip_noise(d)
        print(d)
    spark.stop()


if __name__ == "__main__":
    main()
