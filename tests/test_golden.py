"""Golden-format backward compatibility: the committed v2 index must keep
loading and answering byte-identically in every future engine build —
the analog of the reference's version0 golden files
(jvector-tests/resources/version0.pq, TestProductQuantization.java:216-231).

Regenerate ONLY on a deliberate format-version bump: python tools/make_golden.py
"""

from __future__ import annotations

import json
import os

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "golden")


@pytest.fixture(scope="module")
def golden_case():
    path = os.path.join(GOLDEN, "v2_expected_topk.json")
    if not os.path.exists(path):
        pytest.skip("golden fixtures not generated")
    with open(path) as f:
        return json.load(f)


@pytest.mark.parametrize("name", ["v2_index", "doc_index"])
def test_golden_index_loads_and_answers(spark, golden_case, name):
    """Both committed layouts of the one corpus answer with the same rows
    and scores."""
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.storage import read_segments
    from jvector_spark.operators.topk import queries_df

    idx = os.path.join(GOLDEN, name)
    seg = read_segments(spark, idx)
    assert seg["format_version"] == 2
    qdf = queries_df(spark, [(q, terms) for q, terms in golden_case["queries"]])
    got = [
        {
            "query_id": r.query_id,
            "rank": r.rank,
            "doc_id": r.doc_id,
            "score_u6": int(r.score * 1e6 + 0.5),
        }
        for r in bm25_topk_indexed(spark, idx, qdf, k=5, prune=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == golden_case["expected"]


@pytest.mark.parametrize("name", ["v2_index", "doc_index"])
def test_build_reproduces_golden_index(spark, tmp_path, monkeypatch, name):
    """A fresh build with ``tools/make_golden.py``'s arguments, on either
    side of the build's sizing rule, writes the committed index's rows:
    segments, dictionary, postings, doc_stats and doc_map equal, and
    complete lineage rows with the same postings and bytes. ``v2_index``
    salts at threshold 32, so the driver side's salt plan is checked too.
    The lineage's ``docs_indexed`` is the build's document count on every
    part row, so it is left out. The term layout's lineage rows (one per
    part) are compared whole; the doc layout's by their sums, since its
    golden predates one lineage row per bucket."""
    from test_local_tables import _force

    from jvector_spark.fixtures import make_transcripts_pdf
    from jvector_spark.operators.doc_ids import assign_dense_ids
    from tools.diff_index import diff_dirs, read_rows
    from tools.make_golden import BUILDERS

    corpus = assign_dense_ids(
        spark.createDataFrame(make_transcripts_pdf(n_turns=300, seed=123)),
        ["conv_id", "turn_idx"], "doc_id",
    )
    golden = os.path.join(GOLDEN, name)

    def lineage(idx):
        cols = ["part_id", "postings_emitted", "bytes_compressed", "status"]
        rows = read_rows(os.path.join(idx, "build_lineage")).select(cols)
        return sorted(tuple(r.values()) for r in rows.to_pylist())

    want = lineage(golden)
    for side in ("driver", "spark"):
        _force(monkeypatch, side)
        d = str(tmp_path / f"{name}_{side}")
        BUILDERS[name](corpus, d)
        same = diff_dirs(d, golden)
        tables = ("segments", "dictionary", "postings", "doc_stats", "doc_map")
        assert all(same[t] for t in tables), (side, same)

        got = lineage(d)
        assert {r[3] for r in got} == {"complete"}, side
        if name == "v2_index":
            assert got == want, side
            assert [r[0] for r in got] == [0, 1]
        else:
            assert [r[0] for r in got] == [0, 1, 2, 3]
            assert [sum(r[i] for r in got) for i in (1, 2)] == [
                sum(r[i] for r in want) for i in (1, 2)
            ], side


def test_golden_positions_feature_still_decodes(spark, golden_case):
    from jvector_spark.index.positions import decode_positions, has_positions

    idx = os.path.join(GOLDEN, "v2_index")
    assert has_positions(idx)
    n = decode_positions(spark, idx).count()
    assert n > 0


@pytest.fixture(scope="module")
def vec_golden_case():
    path = os.path.join(GOLDEN, "vec_expected_topk.json")
    if not os.path.exists(path):
        pytest.skip("vector golden fixtures not generated")
    with open(path) as f:
        return json.load(f)


@pytest.mark.parametrize("tier", ["pq", "sq8", "bq", "nvq", "ivf"])
def test_golden_vector_tier_loads_and_answers(spark, vec_golden_case, tier):
    """Committed PQ/SQ8/BQ/NVQ/IVF structures must keep loading and answering
    rank-identically (the version0.pq idiom for the vector-tier formats,
    TestProductQuantization.java:216-231): a format-breaking change to
    index/vectors.py fails HERE without regenerating the artifacts."""
    from jvector_spark.fixtures import make_embeddings, make_embeddings_pdf
    from jvector_spark.index.vectors import (
        ann_topk_bq_indexed,
        ann_topk_nvq_indexed,
        ann_topk_pq_indexed,
        ann_topk_sq8_indexed,
        ivf_topk_indexed,
        read_manifest,
    )

    runners = {
        "pq": ann_topk_pq_indexed,
        "sq8": ann_topk_sq8_indexed,
        "bq": ann_topk_bq_indexed,
        "nvq": ann_topk_nvq_indexed,
        "ivf": ivf_topk_indexed,
    }
    idx = os.path.join(GOLDEN, f"{tier}_index")
    man = read_manifest(spark, idx)
    assert man["kind"] == tier and man["dim"] == 32

    emb = make_embeddings(spark).cache()
    pdf = make_embeddings_pdf()
    k = vec_golden_case["k"]
    for qi, vid in enumerate(vec_golden_case["query_vec_ids"]):
        qv = list(pdf.loc[pdf["vec_id"] == vid, "embedding"].iloc[0])
        got = [
            {"rank": r.rank, "vec_id": r.vec_id, "cos_u9": int(r.cos * 1e9 + 0.5)}
            for r in runners[tier](spark, idx, emb, qv, k=k).collect()
        ]
        assert got == vec_golden_case["tiers"][tier][qi]


def test_golden_doc_map_text_invariant(spark, golden_case):
    """Per-turn natural-key invariant holds for the committed index."""
    from pyspark.sql import functions as F

    from jvector_spark.index.storage import read_table

    idx = os.path.join(GOLDEN, "v2_index")
    dm = read_table(spark, idx, "doc_map")
    assert dm.count() == dm.select("doc_id").distinct().count()
    assert dm.count() == dm.select("conv_id", "turn_idx").distinct().count()
    assert dm.filter(F.col("doc_id") < 0).count() == 0
