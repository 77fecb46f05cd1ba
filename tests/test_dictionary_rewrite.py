"""An extend's dictionary rewrite runs on the driver (pyarrow) when the
dictionary's data files are small, and as a Spark join otherwise. Each test
forces a side by setting the sizing rule's module constant, and both sides
must write the same index: every table row-equal under
``tools/diff_index.py``. Every rewrite of a whole table is swapped in by
``storage.swap_in``, so an error while the old copy is deleted leaves each
live table whole: its old rows or its new ones."""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from test_extend_paths import KEYS, _file
from test_local_tables import _jobs, _with_fresh_terms

import jvector_spark.index.extend as E
from tools.diff_index import diff_dirs

SIDES = ("spark", "driver")
_RMTREE = shutil.rmtree


def _side(monkeypatch, side: str) -> None:
    monkeypatch.setattr(
        E, "DRIVER_MAX_DICTIONARY_BYTES", 1 << 62 if side == "driver" else -1
    )


@pytest.fixture(scope="module")
def base(tmp_path_factory, corpus):
    from jvector_spark.index.build import build_index

    d = str(tmp_path_factory.mktemp("dict_base"))
    build_index(corpus.filter(F.col("doc_id") < 300), d, n_parts=2, doc_map_cols=KEYS)
    return d


def _assert_same(a: str, b: str) -> None:
    same = diff_dirs(a, b)
    assert same and all(same.values()), same


def _extend_sides(spark, monkeypatch, base_dir: str, tmp_path, delta) -> dict:
    """Extend a copy of ``base_dir`` with each side of the rule; both copies
    must hold the same rows in every table. Returns {side: index dir}."""
    out = {}
    for side in SIDES:
        d = str(tmp_path / side)
        shutil.copytree(base_dir, d)
        _side(monkeypatch, side)
        _, jobs = _jobs(
            spark, lambda: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS)
        )
        # a driver-sized delta: the tokenized collect, plus the Spark
        # side's 2-job rewrite (its no-job twin on the driver side)
        assert jobs <= (1 if side == "driver" else 3), (side, jobs)
        out[side] = d
    _assert_same(out["spark"], out["driver"])
    return out


def _physical_types(index_dir: str) -> set:
    path = os.path.join(index_dir, "dictionary")
    out = set()
    for f in os.listdir(path):
        if f.startswith(("_", ".")):
            continue
        sch = pq.ParquetFile(os.path.join(path, f)).schema
        out.add(tuple(
            (c.name, c.physical_type, c.converted_type)
            for c in (sch.column(i) for i in range(len(sch)))
        ))
    return out


def test_sides_write_the_same_index_and_spark_reads_it(spark, monkeypatch, corpus,
                                                       base, tmp_path):
    """Updated and fresh terms; the driver side writes one file with the
    physical types Spark writes, and Spark readers of the dictionary
    (compaction, ``add_positions``) answer the same on both copies."""
    from jvector_spark.index.maintenance import compact_index, delete_docs
    from jvector_spark.index.positions import add_positions

    raw = corpus.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 360))
    delta = _file(_with_fresh_terms(raw, "d").select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_sides(spark, monkeypatch, base, tmp_path, delta)
    assert not diff_dirs(base, dirs["driver"])["dictionary"]

    want = {(
        ("term", "BYTE_ARRAY", "UTF8"), ("term_id", "INT64", "NONE"),
        ("df", "INT64", "NONE"), ("cf", "INT64", "NONE"),
        ("n_salts", "INT32", "NONE"),
    )}
    assert _physical_types(dirs["driver"]) == want
    assert _physical_types(dirs["spark"]) == want
    assert len(os.listdir(os.path.join(dirs["driver"], "dictionary"))) == 2  # + _SUCCESS

    # Spark readers of the rewritten dictionary
    texts = corpus.filter(F.col("doc_id") < 300).select("doc_id", "text")
    for d in dirs.values():
        delete_docs(spark, d, [5, 301, 340])
        compact_index(spark, d)
        add_positions(texts, d)
    _assert_same(dirs["spark"], dirs["driver"])


def test_delta_of_empty_texts_keeps_the_dictionary(spark, monkeypatch, corpus, base,
                                                   tmp_path):
    """No update row and no fresh row: both sides rewrite the same rows."""
    raw = corpus.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 320)).withColumn(
        "text", F.when(F.col("turn_idx") % 2 == 0, F.lit("")).otherwise(F.lit("?! ..."))
    )
    delta = _file(raw.select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_sides(spark, monkeypatch, base, tmp_path, delta)
    assert diff_dirs(base, dirs["driver"])["dictionary"]


def test_index_compacted_to_no_documents(spark, monkeypatch, corpus, tmp_path):
    """Every term has df 0 after the compaction; the delta brings some of
    them back and adds fresh ones."""
    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import compact_index, delete_docs
    from jvector_spark.index.storage import read_local

    b = str(tmp_path / "base")
    build_index(corpus.filter(F.col("doc_id") < 40), b, n_parts=2, doc_map_cols=KEYS)
    delete_docs(spark, b, range(40))
    compact_index(spark, b)
    assert set(read_local(b, "dictionary")["df"].to_pylist()) == {0}

    raw = corpus.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 70))
    delta = _file(_with_fresh_terms(raw, "z").select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_sides(spark, monkeypatch, b, tmp_path, delta)
    dct = read_local(dirs["driver"], "dictionary")
    assert 0 in dct["df"].to_pylist() and max(dct["df"].to_pylist()) > 0


def test_base_index_with_an_empty_dictionary(spark, monkeypatch, corpus, tmp_path):
    """A build whose texts all tokenize to nothing has a dictionary of no
    rows; the delta's terms are numbered from 0 on both sides."""
    from jvector_spark.index.build import build_index
    from jvector_spark.index.storage import read_local

    b = str(tmp_path / "base")
    build_index(
        corpus.filter(F.col("doc_id") < 20).withColumn("text", F.lit("...")), b,
        n_parts=2, doc_map_cols=KEYS,
    )
    empty = read_local(b, "dictionary")
    assert empty is None or empty.num_rows == 0

    raw = corpus.filter((F.col("doc_id") >= 20) & (F.col("doc_id") < 50))
    delta = _file(raw.select(*KEYS, "text"), tmp_path, "delta")
    dirs = _extend_sides(spark, monkeypatch, b, tmp_path, delta)
    ids = sorted(read_local(dirs["driver"], "dictionary")["term_id"].to_pylist())
    assert ids == list(range(len(ids))) and ids


def test_non_ascii_terms(spark, monkeypatch, base, tmp_path):
    """The tokenizer keeps only [a-z0-9] runs, so no extend brings in a
    non-ASCII term; the rewrite is called directly to add fresh ones and
    then update them, and both sides must agree byte for byte on them."""
    from jvector_spark.index.storage import footer_max, read_local

    top = footer_max(base, "dictionary", "term_id")
    terms = sorted(["é", "Ωß", "東京", "naïve"])
    fresh = [(t, top + 1 + i, 1, 2, 1) for i, t in enumerate(terms)]
    updates = [("東京", 2, 5), ("naïve", 1, 1), ("the", 3, 4)]
    out = {}
    for side in SIDES:
        d = str(tmp_path / side)
        shutil.copytree(base, d)
        _side(monkeypatch, side)
        E._rewrite_dictionary(spark, d, [], fresh)
        E._rewrite_dictionary(spark, d, updates, [])
        out[side] = d
    _assert_same(out["spark"], out["driver"])
    rows = {r["term"]: (r["df"], r["cf"]) for r in read_local(out["driver"], "dictionary")
            .to_pylist()}
    assert rows["東京"] == (3, 7) and rows["é"] == (1, 2)


def _failing_rmtree(monkeypatch, k: int) -> list:
    """Make the ``k``-th ``shutil.rmtree`` call delete the largest data file
    under the directory it is given and then raise; other calls run as usual.
    Returns the list the calls' paths are recorded in."""
    calls: list = []

    def rmtree(path, *args, **kwargs):
        calls.append(path)
        if len(calls) != k:
            return _RMTREE(path, *args, **kwargs)
        data = [os.path.join(root, f) for root, _, files in os.walk(path)
                for f in files if f.endswith(".parquet")]
        if data:
            os.remove(max(data, key=os.path.getsize))
        raise OSError(f"injected failure while removing {path}")

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    return calls


def _each_table_old_or_new(old: str, new: str, got: str) -> None:
    """Every table of ``got`` holds the rows it holds in ``old`` or in
    ``new``; a table absent from both sides of a comparison is equal."""
    was, now = diff_dirs(old, got), diff_dirs(new, got)
    bad = [t for t in was.keys() | now.keys()
           if not (was.get(t, True) or now.get(t, True))]
    assert not bad, f"tables neither old nor new: {bad}"


def _fail_each_removal(monkeypatch, tmp_path, base_dir: str, op) -> int:
    """Run ``op(index dir)`` on copies of ``base_dir``, failing its 1st,
    2nd, ... ``shutil.rmtree`` call in turn, until a run makes no call the
    failure reaches; after each failure every table holds the rows of
    the untouched copy or of a run that did not fail. Returns the number
    of failed runs."""
    new = str(tmp_path / "new")
    shutil.copytree(base_dir, new)
    op(new)
    for k in range(1, 100):
        d = str(tmp_path / f"fail{k}")
        shutil.copytree(base_dir, d)
        calls = _failing_rmtree(monkeypatch, k)
        try:
            op(d)
        except OSError as e:
            assert "injected failure" in str(e)
        finally:
            monkeypatch.setattr(shutil, "rmtree", _RMTREE)
        if len(calls) < k:
            return k - 1
        _each_table_old_or_new(base_dir, new, d)
    raise AssertionError("more than 99 rmtree calls")


def test_failed_removal_during_compaction_leaves_whole_tables(spark, monkeypatch,
                                                              base, tmp_path):
    from jvector_spark.index.maintenance import compact_index, delete_docs

    b = str(tmp_path / "base")
    shutil.copytree(base, b)
    delete_docs(spark, b, [2, 40, 41, 299])
    # postings, doc_stats, doc_map and dictionary swaps, the segments and
    # lineage overwrites, and the tombstones' removal
    assert _fail_each_removal(
        monkeypatch, tmp_path, b, lambda d: compact_index(spark, d)
    ) == 7


def test_failed_removal_during_spark_dictionary_rewrite_leaves_whole_tables(
        spark, monkeypatch, corpus, base, tmp_path):
    raw = corpus.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 330))
    delta = _file(_with_fresh_terms(raw, "f").select(*KEYS, "text"), tmp_path, "delta")
    _side(monkeypatch, "spark")
    # the dictionary swap and the segments overwrite
    assert _fail_each_removal(
        monkeypatch, tmp_path, base,
        lambda d: E.extend_index(delta, d, order_cols=KEYS, doc_map_cols=KEYS),
    ) == 2
