"""An empty corpus has nothing to index or train on: every build entry
point raises a ``ValueError`` that names it, instead of failing midway on
an undefined statistic (the text builds' avgdl, the k-means seed draw).
The text builds raise it on both sides of the build's sizing rule, before
any table is written, and so do the trained vector tiers (PQ, IVF, and
SQ8, whose per-dimension min and scale have no rows to come from); the
untrained ones (BQ, NVQ) build the same empty structure on both sides."""

from __future__ import annotations

import pytest

ORDER = ["conv_id", "turn_idx"]


def _text_builds():
    from jvector_spark.index.build import build_index, build_index_transcripts
    from jvector_spark.index.docpart import build_doc_partitioned
    from jvector_spark.index.sharded import build_sharded

    return {
        "build_index": lambda corpus, src, d: build_index(corpus, d, n_parts=2),
        "build_index_transcripts": lambda corpus, src, d: build_index_transcripts(
            src, d, ORDER, n_parts=2
        ),
        "build_doc_partitioned": lambda corpus, src, d: build_doc_partitioned(
            corpus, d, n_buckets=4
        ),
        "build_sharded": lambda corpus, src, d: build_sharded(
            src, d, n_shards=2, order_cols=ORDER, n_parts=2
        ),
    }


@pytest.mark.parametrize(
    "entry",
    ["build_index", "build_index_transcripts", "build_doc_partitioned", "build_sharded"],
)
def test_text_build_of_an_empty_corpus_raises(spark, corpus, transcripts, tmp_path,
                                              monkeypatch, entry):
    from test_local_tables import _force

    build = _text_builds()[entry]
    for side in ("driver", "spark"):
        _force(monkeypatch, side)
        d = tmp_path / f"{entry}_{side}"
        with pytest.raises(ValueError, match="empty corpus"):
            build(corpus.limit(0), transcripts.limit(0), str(d))
        assert not d.exists() or not any(d.iterdir()), side


@pytest.mark.parametrize("tier", ["pq", "ivf", "sq8"])
def test_trained_tier_build_of_an_empty_corpus_raises(spark, tmp_path, monkeypatch, tier):
    """On both sides of the ingest rule, before any table is written."""
    from test_local_tables import _force

    from jvector_spark.fixtures import make_embeddings
    from jvector_spark.index import vectors as V

    emb = make_embeddings(spark).limit(0)
    for side in ("driver", "spark"):
        _force(monkeypatch, side)
        d = tmp_path / f"{tier}_{side}"
        with pytest.raises(ValueError, match="empty corpus"):
            getattr(V, f"{tier}_build")(emb, str(d))
        assert not d.exists() or not any(d.iterdir()), side


@pytest.mark.parametrize("tier", ["bq", "nvq"])
def test_untrained_tier_of_an_empty_corpus_agrees_across_sides(
    spark, tmp_path, monkeypatch, tier
):
    """A tier with nothing to train builds an empty structure on both sides
    of the ingest rule (dimension 0, no code row, the same rows in every
    table): their extends append nothing and serve no row. The exact
    scans of an empty corpus return no row on both sides."""
    from test_local_tables import _force

    from jvector_spark.fixtures import make_embeddings
    from jvector_spark.index import vectors as V
    from jvector_spark.index.storage import local_relation
    from jvector_spark.operators.similarity import cosine_topk, cosine_topk_batch
    from tools.diff_index import diff_dirs

    emb = make_embeddings(spark).limit(0)
    qs = local_relation(spark, [(0, [1.0] * 32)], "query_id long, qvec array<double>")
    dirs = {}
    for side in ("driver", "spark"):
        _force(monkeypatch, side)
        d = dirs[side] = str(tmp_path / side)
        assert getattr(V, f"{tier}_build")(emb, d) == 0, side
        assert V.read_manifest(spark, d)["dim"] == 0
        assert V.read_codes(spark, d).count() == 0
        assert getattr(V, f"{tier}_extend")(emb, d) == 0
        serve = getattr(V, f"ann_topk_{tier}_indexed")
        assert serve(spark, d, emb, [1.0] * 32, k=3).collect() == []
        assert cosine_topk(emb, [1.0] * 32, k=3).collect() == []
        assert cosine_topk_batch(emb, qs, k=3).collect() == []
    assert all(diff_dirs(dirs["driver"], dirs["spark"]).values())
