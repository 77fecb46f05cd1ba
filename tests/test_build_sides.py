"""A build whose tokenized projection is driver-sized runs on the driver
(one tokenized collect, ``build._ingest_on_driver`` over an empty base,
pyarrow writes); a larger one runs the Spark pipeline (``build._build``).
An extend is either body over the live index as its base. One constant,
``storage.DRIVER_MAX_INGEST_BYTES``, sizes builds and extends, and tests
force a side through it (``test_local_tables._force``). Both sides must
write the same rows in every table, under ``tools/diff_index.py``."""

from __future__ import annotations

import os
import random
import uuid

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from test_extend_paths import _assert_same_index, _extend_both, _file
from test_local_tables import _force, _jobs

from tools.diff_index import diff_dirs

KEYS = ["conv_id", "turn_idx"]

# "hot" is drawn often, so low salt thresholds split it into salts; "HOT!"
# and "é" tokenize to "hot" and to nothing
WORDS = st.one_of(
    st.just("hot"), st.sampled_from(["a", "b", "zeta", "x1", "9", "HOT!", "é", "q"])
)


def _rows(words, min_size: int) -> st.SearchStrategy:
    """(conv_id, turn_idx, text) rows, unique by key: null and non-ASCII
    conv_ids, null and empty texts."""
    return st.lists(
        st.tuples(
            st.one_of(st.none(), st.sampled_from(["a", "b", "z", "é", "Ωß"])),
            st.integers(0, 5),
            st.one_of(st.none(), st.lists(words, max_size=8).map(" ".join)),
        ),
        min_size=min_size, max_size=40, unique_by=lambda r: (r[0], r[1]),
    )


ROWS = _rows(WORDS, 1)
# a delta's words: the base's, and fresh ones
DELTA_ROWS = _rows(st.one_of(WORDS, st.sampled_from(["fresh", "new1", "zz"])), 0)


def _build(entry: str, df, d: str, n_parts: int, plan: dict, id_offset: int) -> dict:
    from jvector_spark.index.build import build_index, build_index_transcripts
    from jvector_spark.index.docpart import build_doc_partitioned

    if entry == "transcripts":
        return build_index_transcripts(
            df.drop("doc_id"), d, KEYS, doc_map_cols=KEYS, n_parts=n_parts,
            id_offset=id_offset, **plan,
        )
    if entry == "doc":
        return build_doc_partitioned(df, d, doc_map_cols=KEYS, n_buckets=n_parts)
    return build_index(df, d, doc_map_cols=KEYS, n_parts=n_parts, **plan)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow, HealthCheck.data_too_large])
@given(
    rows=ROWS,
    entry=st.sampled_from(["transcripts", "term", "doc"]),
    n_parts=st.integers(1, 4),
    threshold=st.integers(1, 4),
    target=st.integers(1, 3),
    id_offset=st.sampled_from([0, 5, 1 << 20]),
    shuffle=st.randoms(use_true_random=False),
)
# a null text has a null dl on both sides, and avgdl is Σdl / n on both:
# (2 + 3) / 3, not Spark's avg(dl) = 2.5 over the non-null dls
@example(rows=[("a", 0, "a b"), ("a", 1, None), ("a", 2, "b c c")], entry="term",
         n_parts=1, threshold=4, target=3, id_offset=0, shuffle=random.Random(0))
def test_driver_and_spark_builds_write_the_same_rows(
    spark, tmp_path_factory, rows, entry, n_parts, threshold, target, id_offset, shuffle
):
    """Random corpora, with hot terms that salt, empty and null texts, null
    and non-ASCII order keys, a non-zero ``id_offset`` (the transcripts
    build) and both layouts: every table of the two sides' indexes holds
    the same rows, lineage included."""
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    ids = list(range(len(pdf)))
    shuffle.shuffle(ids)  # caller ids need not follow the row order
    pdf["doc_id"] = ids
    df = spark.createDataFrame(pdf, "conv_id string, turn_idx int, text string, doc_id long")
    plan = {"salt_threshold": threshold, "target_salt_postings": target}
    base = tmp_path_factory.mktemp("sides") / uuid.uuid4().hex
    out = {}
    for side in ("spark", "driver"):
        with pytest.MonkeyPatch.context() as mp:
            _force(mp, side)
            d = str(base / side)
            out[side] = (d, _build(entry, df, d, n_parts, plan, id_offset))
    (a, ma), (b, mb) = out["spark"], out["driver"]
    same = diff_dirs(a, b)
    assert len(same) == 6 and all(same.values()), same
    assert {k: v for k, v in ma.items() if k != "phase_secs"} == {
        k: v for k, v in mb.items() if k != "phase_secs"
    }


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow, HealthCheck.data_too_large])
@given(
    base_rows=ROWS,
    delta_rows=DELTA_ROWS,
    caller_ids=st.booleans(),
    n_parts=st.integers(1, 3),
    threshold=st.integers(1, 3),
    target=st.integers(1, 2),
    shuffle=st.randoms(use_true_random=False),
)
def test_driver_and_spark_extends_write_the_same_rows(
    spark, tmp_path_factory, base_rows, delta_rows, caller_ids, n_parts, threshold,
    target, shuffle,
):
    """Random deltas into a random base whose hot terms have several salts:
    known and fresh terms, empty and null texts, null and non-ASCII order
    keys, and either order columns or unique caller ids (in no order, with
    gaps). A copy of the base extended on each side holds the same rows in
    every table, and each side stays within its job budget."""
    from jvector_spark.index.build import build_index
    from jvector_spark.index.extend import extend_index

    schema = "conv_id string, turn_idx int, text string, doc_id long"
    base_pdf = pd.DataFrame(base_rows, columns=["conv_id", "turn_idx", "text"])
    base_pdf["doc_id"] = range(len(base_pdf))
    tmp = tmp_path_factory.mktemp("extend_sides") / uuid.uuid4().hex
    tmp.mkdir()
    base = str(tmp / "base")
    build_index(spark.createDataFrame(base_pdf, schema), base, doc_map_cols=KEYS,
                n_parts=n_parts, salt_threshold=threshold, target_salt_postings=target)

    delta_pdf = pd.DataFrame(delta_rows, columns=["conv_id", "turn_idx", "text"])
    ids = list(range(len(base_pdf), len(base_pdf) + 2 * len(delta_pdf)))
    shuffle.shuffle(ids)
    delta_pdf["doc_id"] = ids[: len(delta_pdf)]
    delta = _file(spark.createDataFrame(delta_pdf, schema), tmp, "delta")
    if caller_ids:
        def call(d):
            return extend_index(delta, d, order_cols=None, doc_map_cols=KEYS)
    else:
        def call(d):
            return extend_index(delta.drop("doc_id"), d, order_cols=KEYS,
                                doc_map_cols=KEYS)
    with pytest.MonkeyPatch.context() as mp:
        dirs = _extend_both(spark, mp, base, tmp, call)
    _assert_same_index(dirs["spark"], dirs["driver"], n_tables=6)


def test_driver_sized_builds_run_one_job(spark, transcripts, corpus, tmp_path):
    """Under the default rule, each build entry point over a driver-sized
    input runs at most 1 Spark job (the tokenized collect) and reports the
    driver side's phases."""
    from jvector_spark.index.build import build_index, build_index_transcripts
    from jvector_spark.index.docpart import build_doc_partitioned

    src = _file(transcripts, tmp_path, "src")
    calls = {
        "build_index_transcripts": lambda d: build_index_transcripts(
            src, d, KEYS, doc_map_cols=KEYS, n_parts=2),
        "build_index": lambda d: build_index(corpus, d, doc_map_cols=KEYS, n_parts=2),
        "build_doc_partitioned": lambda d: build_doc_partitioned(corpus, d, n_buckets=4),
    }
    for name, call in calls.items():
        out, jobs = _jobs(spark, lambda: call(str(tmp_path / name)))
        assert jobs <= 1, f"{name} ran {jobs} Spark jobs"
        assert list(out["phase_secs"]) == ["collect", "encode", "write", "meta_writes"]


def _files(d: str, part: int) -> list[str]:
    return sorted(os.listdir(os.path.join(d, "postings", f"part_id={part}")))


def test_driver_build_resume_after_injected_failure(spark, corpus, tmp_path, monkeypatch):
    """The driver side honours ``fail_after_parts`` in the shared commit
    tail; a resume rewrites only the postings of the parts without a
    complete lineage row, and the index equals an uninterrupted build."""
    from jvector_spark.index.build import build_index

    _force(monkeypatch, "driver")
    d = str(tmp_path / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(corpus, d, n_parts=4, fail_after_parts=2)
    kept = {p: _files(d, p) for p in range(4)}
    assert build_index(corpus, d, n_parts=4, resume=True)["parts_built"] == 2
    assert [_files(d, p) == kept[p] for p in range(4)] == [True, True, False, False]
    whole = str(tmp_path / "whole")
    build_index(corpus, whole, n_parts=4)
    same = diff_dirs(d, whole)
    assert len(same) == 5 and all(same.values()), same


def _table_bytes(d: str, name: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(os.path.join(d, name))
        for f in files if not f.startswith(("_", "."))
    )


def test_write_local_tables_are_no_larger_than_spark_writes(spark, corpus, tmp_path,
                                                            monkeypatch):
    """The driver side's pyarrow writes (no dictionary pages, delta-encoded
    integers, zstd) of the same rows take no more bytes than the Spark
    side's, table by table."""
    from jvector_spark.index.build import build_index

    dirs = {}
    for side in ("spark", "driver"):
        _force(monkeypatch, side)
        dirs[side] = str(tmp_path / side)
        build_index(corpus, dirs[side], doc_map_cols=KEYS, n_parts=2)
    same = diff_dirs(dirs["spark"], dirs["driver"])
    assert all(same.values()), same
    for name in ("doc_stats", "doc_map", "dictionary", "postings"):
        spark_b, driver_b = (_table_bytes(dirs[s], name) for s in ("spark", "driver"))
        assert driver_b <= spark_b, (name, driver_b, spark_b)
