"""A driver-sized delta is extended on the driver (one tokenized collect,
numbering and block encode on the driver, pyarrow writes); a larger one
runs the Spark path. Each test forces a path by setting the sizing rule's
module constant, and both paths must write the same index: all 7 tables
row-equal under ``tools/diff_index.py``. Reads of a driver-extended index
must equal the BM25 oracle on both read paths, and an index compacted down
to no documents must extend like any other."""

from __future__ import annotations

import math
import os
import shutil

import pytest
from pyspark.sql import functions as F
from test_local_tables import _force, _jobs, _snapshot, _with_fresh_terms

import jvector_spark.index.extend as E
import jvector_spark.index.query as Q
from tools.diff_index import diff_dirs

KEYS = ["conv_id", "turn_idx"]
PATHS = ("spark", "driver")
DEAD = [3, 17, 400]  # tombstoned in the base index, so it has all 7 tables


@pytest.fixture(scope="module")
def base_index(tmp_path_factory, corpus):
    from jvector_spark.index.build import build_index

    from jvector_spark.index.maintenance import delete_docs

    d = str(tmp_path_factory.mktemp("extend_base"))
    build_index(corpus.filter(F.col("doc_id") < 800), d, n_parts=2, doc_map_cols=KEYS)
    delete_docs(corpus.sparkSession, d, DEAD)
    return d


def _assert_same_index(a: str, b: str, n_tables: int = 7) -> None:
    same = diff_dirs(a, b)
    assert len(same) == n_tables and all(same.values()), same


def _file(df, tmp_path, name: str):
    """``df`` written to one Parquet file and read back, as a caller's
    delta would be."""
    path = str(tmp_path / f"{name}.parquet")
    df.coalesce(1).write.parquet(path)
    return df.sparkSession.read.parquet(path)


def _odd_keys(df):
    """One null conv_id, and non-ASCII conv_ids that sort after every ASCII
    one; the (conv_id, turn_idx) keys stay unique."""
    first = df.agg(F.min(F.struct(*KEYS))).collect()[0][0]
    return df.withColumn(
        "conv_id",
        F.when(
            (F.col("conv_id") == first.conv_id) & (F.col("turn_idx") == first.turn_idx),
            F.lit(None),
        )
        .when(F.col("turn_idx") % 3 == 0, F.concat(F.lit("é"), "conv_id"))
        .when(F.col("turn_idx") % 3 == 1, F.concat(F.lit("Ωß"), "conv_id"))
        .otherwise(F.col("conv_id")),
    )


# Spark jobs an extend may run on each path, measured on these tests and
# tests/test_build_sides.py's random deltas: the driver path 1 (the
# tokenized collect; the dictionary is driver-sized and rewritten with
# pyarrow); the Spark path (the build's Spark side over the base) 18 with
# order_cols and 12 with caller ids on a 150-turn delta, fewer on small
# random ones. An empty delta stops after the collect, or after the Spark
# path's count (5 jobs)
JOB_BUDGET = {"driver": 1, "spark": 18}


def _extend_both(spark, monkeypatch, base: str, tmp_path, make_call) -> dict:
    """Extend a copy of ``base`` on each path; return {path: index dir}.
    Each path must stay within its :data:`JOB_BUDGET`."""
    out = {}
    for path in PATHS:
        d = str(tmp_path / path)
        shutil.copytree(base, d)
        _force(monkeypatch, path)
        _, jobs = _jobs(spark, lambda: make_call(d))
        assert jobs <= JOB_BUDGET[path], f"{path}-path extend ran {jobs} Spark jobs"
        out[path] = d
    return out


def _oracle_check(spark, monkeypatch, index_dir: str, texts: dict, queries,
                  dead=()) -> None:
    """Both read paths over ``index_dir`` equal the BM25 oracle over
    ``texts`` ({doc_id: text}); tombstoned docs count in the corpus
    statistics but take no result slot."""
    from jvector_spark.fixtures import bm25_oracle
    from jvector_spark.operators.topk import queries_df

    ids = sorted(texts)
    want = [
        [(d, s) for d, s in w if d not in dead][:10]
        for w in bm25_oracle([texts[i] for i in ids], ids, queries, k=10 + len(dead))
    ]
    assert any(want)
    for path in ("spark", "driver"):
        big = 1 << 62 if path == "driver" else 0
        monkeypatch.setattr(Q, "DRIVER_MAX_POSTINGS", big)
        monkeypatch.setattr(Q, "DRIVER_MAX_BYTES", big)
        rows = Q.bm25_topk_indexed(
            spark, index_dir, queries_df(spark, list(enumerate(queries))), k=10,
            prune=True,
        ).collect()
        got = [[] for _ in queries]
        for r in sorted(rows, key=lambda r: (r.query_id, r.rank)):
            got[r.query_id].append((r.doc_id, r.score))
        for q, (g, w) in enumerate(zip(got, want)):
            assert [d for d, _ in g] == [d for d, _ in w], (path, queries[q])
            for (_, s1), (_, s2) in zip(g, w):
                assert math.isclose(s1, s2, rel_tol=1e-9), (path, queries[q])


def _texts(spark, index_dir: str, corpus, delta_pdf) -> dict:
    """{doc_id: text} of the base documents and the delta's, the delta's
    ids looked up by key in the extended index's doc_map."""
    texts = {r.doc_id: r.text for r in corpus.filter(F.col("doc_id") < 800)
             .select("doc_id", "text").collect()}
    ids = {
        (r.conv_id, r.turn_idx): r.doc_id
        for r in spark.read.parquet(os.path.join(index_dir, "doc_map")).collect()
        if r.doc_id >= 800
    }
    for r in delta_pdf.itertuples(index=False):
        conv = None if r.conv_id is None or r.conv_id != r.conv_id else r.conv_id
        texts[ids[(conv, r.turn_idx)]] = r.text
    return texts


def test_order_keys_with_null_and_non_ascii(spark, monkeypatch, corpus, base_index, tmp_path):
    raw = corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 950))
    delta = _file(
        _with_fresh_terms(_odd_keys(raw), "k").select(*KEYS, "text"), tmp_path, "delta"
    )
    dirs = _extend_both(
        spark, monkeypatch, base_index, tmp_path,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS),
    )
    _assert_same_index(dirs["spark"], dirs["driver"])

    doc_map = spark.read.parquet(os.path.join(dirs["driver"], "doc_map"))
    # Spark's ordering: the null key first, then ASCII, then non-ASCII
    first = doc_map.filter(F.col("doc_id") == 800).collect()[0]
    assert first.conv_id is None
    last = doc_map.filter(F.col("doc_id") == 949).collect()[0]
    assert last.conv_id.startswith("Ωß")

    texts = _texts(spark, dirs["driver"], corpus, delta.toPandas())
    queries = [["zzk0"], ["qqk"], ["zzk3", "error"], ["the", "data"], ["zzk1", "zzk2"]]
    _oracle_check(spark, monkeypatch, dirs["driver"], texts, queries, DEAD)


def test_caller_ids_with_repeated_doc_id(spark, monkeypatch, corpus, base_index, tmp_path):
    """A repeated caller doc_id raises on both paths, and nothing is
    written: df counts rows, so the two rows would be one document counted
    twice."""
    from jvector_spark.index.storage import read_segments

    n_old = read_segments(spark, base_index)["n_docs"]
    raw = corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 950)).withColumn(
        "doc_id", F.col("doc_id") - F.lit(800) + F.lit(n_old)
    )
    raw = _with_fresh_terms(raw, "c").select("doc_id", *KEYS, "text")
    raw = raw.unionByName(raw.filter(F.col("doc_id") == n_old + 3))
    delta = _file(raw, tmp_path, "delta")
    before = _snapshot(base_index)
    for path in PATHS:
        d = str(tmp_path / path)
        shutil.copytree(base_index, d)
        _force(monkeypatch, path)
        with pytest.raises(ValueError, match=f"doc_id {n_old + 3} more than once"):
            E.extend_index(delta, d, order_cols=None, doc_map_cols=KEYS)
        assert _snapshot(d) == before, path


def test_empty_delta_writes_nothing(spark, monkeypatch, corpus, base_index, tmp_path):
    delta = _file(
        corpus.filter(F.col("doc_id") < 0).select(*KEYS, "text"), tmp_path, "delta"
    )
    before = _snapshot(base_index)
    dirs = _extend_both(
        spark, monkeypatch, base_index, tmp_path,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS),
    )
    for d in dirs.values():
        assert _snapshot(d) == before


def test_delta_of_empty_texts(spark, monkeypatch, corpus, base_index, tmp_path):
    """Texts that all tokenize to nothing add documents of length 0 and no
    postings; the dictionary keeps its rows."""
    from jvector_spark.index.storage import read_segments

    raw = corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 830)).withColumn(
        "text",
        F.when(F.col("turn_idx") % 2 == 0, F.lit("")).otherwise(F.lit("!!! ... ???")),
    )
    delta = _file(raw.select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_both(
        spark, monkeypatch, base_index, tmp_path,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS),
    )
    _assert_same_index(dirs["spark"], dirs["driver"])
    same = diff_dirs(base_index, dirs["driver"])
    assert same["postings"] and same["dictionary"], same
    seg = read_segments(spark, dirs["driver"])
    old = read_segments(spark, base_index)
    assert seg["n_docs"] == old["n_docs"] + 30
    assert math.isclose(seg["avgdl"] * seg["n_docs"], old["avgdl"] * old["n_docs"])


def test_timestamp_doc_map_column(spark, monkeypatch, corpus, tmp_path):
    """The driver path writes a timestamp doc_map column as Spark does
    (INT96), and Spark reads the instants back."""
    import pyarrow.parquet as pq

    from jvector_spark.index.build import build_index

    cols = [*KEYS, "ts"]
    base = str(tmp_path / "base")
    build_index(corpus.filter(F.col("doc_id") < 200), base, n_parts=2, doc_map_cols=cols)
    raw = corpus.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 300))
    delta = _file(raw.select(*cols, "text"), tmp_path, "delta")
    dirs = _extend_both(
        spark, monkeypatch, base, tmp_path,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=cols),
    )
    _assert_same_index(dirs["spark"], dirs["driver"], n_tables=6)

    doc_map = os.path.join(dirs["driver"], "doc_map")
    for f in os.listdir(doc_map):
        if f.endswith(".parquet"):
            col = pq.ParquetFile(os.path.join(doc_map, f)).schema.column(3)
            assert (col.name, col.physical_type) == ("ts", "INT96")
    got = spark.read.parquet(doc_map).filter(F.col("doc_id") >= 200).select(*cols)
    assert sorted(got.collect()) == sorted(raw.select(*cols).collect())


@pytest.mark.parametrize("path", PATHS)
def test_caller_id_below_n_docs_writes_nothing(spark, monkeypatch, corpus, base_index,
                                               tmp_path, path):
    from jvector_spark.index.storage import read_segments

    d = str(tmp_path / "idx")
    shutil.copytree(base_index, d)
    n_old = read_segments(spark, d)["n_docs"]
    delta = _file(
        corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 900)).withColumn(
            "doc_id", F.col("doc_id") - F.lit(800) + F.lit(n_old - 1)
        ),
        tmp_path, "delta",
    )
    before = _snapshot(d)
    _force(monkeypatch, path)
    with pytest.raises(ValueError, match=f"smallest is {n_old - 1}"):
        E.extend_index(delta, d, order_cols=None, doc_map_cols=KEYS)
    assert _snapshot(d) == before


def test_extend_after_compacting_every_document(spark, monkeypatch, corpus, tmp_path):
    """Compaction can leave n_docs = 0; the extend's delta postings still
    go to each term's last salt, and reads see only the new documents."""
    from jvector_spark.fixtures import tokenize_py
    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import compact_index, delete_docs
    from jvector_spark.index.storage import read_segments

    base = str(tmp_path / "base")
    build_index(corpus.filter(F.col("doc_id") < 50), base, n_parts=2, doc_map_cols=KEYS)
    delete_docs(spark, base, range(50))
    compact_index(spark, base)
    assert read_segments(spark, base)["n_docs"] == 0

    raw = corpus.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 90))
    delta = _file(raw.select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_both(
        spark, monkeypatch, base, tmp_path,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS),
    )
    # compaction cleared the tombstones table
    _assert_same_index(dirs["spark"], dirs["driver"], n_tables=6)
    assert read_segments(spark, dirs["driver"])["n_docs"] == 40

    # the delta's doc ids restart at 0, in key order, as the corpus's do
    texts = {r.doc_id - 50: r.text for r in raw.select("doc_id", "text").collect()}
    words = sorted({w for t in texts.values() for w in tokenize_py(t)})
    queries = [[w] for w in words[:: max(1, len(words) // 6)]] + [words[:3]]
    _oracle_check(spark, monkeypatch, dirs["driver"], texts, queries)


def test_extend_after_partial_compaction(spark, monkeypatch, corpus, tmp_path):
    """Compaction leaves n_docs at the live count without renumbering, so
    n_docs can be a live doc's id: new ids start above the largest id in
    doc_stats, and caller ids are held to the same bound."""
    from jvector_spark.fixtures import tokenize_py
    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import compact_index, delete_docs
    from jvector_spark.index.storage import read_segments

    base = str(tmp_path / "base")
    build_index(corpus.filter(F.col("doc_id") < 50), base, n_parts=2, doc_map_cols=KEYS)
    delete_docs(spark, base, [3, 7])
    compact_index(spark, base)
    assert read_segments(spark, base)["n_docs"] == 48

    raw = corpus.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 60))
    delta = _file(raw.select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_both(
        spark, monkeypatch, base, tmp_path,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS),
    )
    _assert_same_index(dirs["spark"], dirs["driver"], n_tables=6)
    ids = [r.doc_id for r in spark.read.parquet(os.path.join(dirs["driver"], "doc_stats"))
           .collect()]
    assert len(ids) == len(set(ids)) == 58
    assert read_segments(spark, dirs["driver"])["n_docs"] == 58

    # the delta's ids continue the corpus's key order from 50
    texts = {r.doc_id: r.text for r in corpus.filter(F.col("doc_id") < 60)
             .select("doc_id", "text").collect() if r.doc_id not in (3, 7)}
    words = sorted({w for t in texts.values() for w in tokenize_py(t)})
    queries = [[w] for w in words[:: max(1, len(words) // 6)]] + [words[:3]]
    _oracle_check(spark, monkeypatch, dirs["driver"], texts, queries)

    caller = _file(
        raw.withColumn("doc_id", F.col("doc_id") - F.lit(2)), tmp_path, "caller"
    )
    for path in PATHS:
        d = str(tmp_path / f"caller_{path}")
        shutil.copytree(base, d)
        _force(monkeypatch, path)
        with pytest.raises(ValueError, match="smallest is 48"):
            E.extend_index(caller, d, order_cols=None, doc_map_cols=KEYS)
