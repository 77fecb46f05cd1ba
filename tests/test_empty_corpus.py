"""An empty corpus has nothing to index or train on: every build entry
point raises a ``ValueError`` that names it, instead of failing midway on
an undefined statistic (the text builds' avgdl, the k-means seed draw).
The text builds raise it on both sides of the build's sizing rule, before
any table is written."""

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


@pytest.mark.parametrize("tier", ["pq", "ivf"])
def test_trained_tier_build_of_an_empty_corpus_raises(spark, tmp_path, tier):
    from jvector_spark.fixtures import make_embeddings
    from jvector_spark.index import vectors as V

    emb = make_embeddings(spark).limit(0)
    with pytest.raises(ValueError, match="empty corpus"):
        getattr(V, f"{tier}_build")(emb, str(tmp_path / tier))
    assert not (tmp_path / tier / "manifest").exists()
