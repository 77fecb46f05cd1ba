"""Driver-sized tables go through Arrow on the driver: the pyarrow readers
must return exactly what a Spark read returns, the serve and delete paths
must stay inside their Spark-job budgets, and extend/compact must keep the
segments row's global stats equal to a full doc_stats scan. Extend numbers
fresh terms from the dictionary's footer max term_id, keeps df/cf equal to
a full recount, stays inside its job budget and rejects caller doc_ids
below n_docs before writing anything."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _force(monkeypatch, side: str) -> None:
    """Force the side (``"driver"`` or ``"spark"``) every ingest takes (BM25
    and vector builds and extends, exact cosine scans), through the one
    sizing constant. 2^63 is above every estimate, Long.MaxValue (an RDD
    scan's) included."""
    import jvector_spark.index.storage as S

    monkeypatch.setattr(S, "DRIVER_MAX_INGEST_BYTES", 1 << 63 if side == "driver" else -1)


def _copy(src: str, tmp_path) -> str:
    dst = str(tmp_path / "idx")
    shutil.copytree(src, dst)
    return dst


@pytest.fixture(scope="module")
def term_index(tmp_path_factory, corpus):
    from jvector_spark.index.build import build_index

    d = str(tmp_path_factory.mktemp("term_idx"))
    build_index(
        corpus.filter(F.col("doc_id") < 800), d, n_parts=2,
        doc_map_cols=["conv_id", "turn_idx"],
    )
    return d


@pytest.fixture(scope="module")
def doc_index(tmp_path_factory, corpus):
    from jvector_spark.index.docpart import build_doc_partitioned

    d = str(tmp_path_factory.mktemp("doc_idx"))
    build_doc_partitioned(corpus.filter(F.col("doc_id") < 800), d, n_buckets=4)
    return d


def test_local_relation_rejects_row_arity_mismatch():
    # the check runs before Spark is touched, so no session is needed
    from jvector_spark.index.storage import local_relation

    schema = "part_id int, n long, tags array<string>"
    with pytest.raises(ValueError, match="row 1 has 2 values for 3 columns"):
        local_relation(None, [(1, 2, ["a"]), (3, 4)], schema)
    with pytest.raises(ValueError, match="row 0 has 4 values for 3 columns"):
        local_relation(None, [(1, 2, ["a"], 5)], schema)


def test_arrow_rows_rejects_row_arity_mismatch_without_spark():
    from jvector_spark.index.storage import arrow_rows

    schema = "part_id int, avg double, tags array<string>"
    with pytest.raises(ValueError, match="row 0 has 4 values for 3 columns"):
        arrow_rows([(1, 2.0, ["a"], 5)], schema)
    with pytest.raises(ValueError, match="row 1 has 2 values for 3 columns"):
        arrow_rows([(1, 2.0, ["a"]), (3, 4.0)], schema)
    t = arrow_rows([(1, 2.5, ["a", "b"]), (2, 0.0, [])], schema)
    assert [str(f.type) for f in t.schema] == ["int32", "double", "list<item: string>"]
    assert t.to_pylist()[0] == {"part_id": 1, "avg": 2.5, "tags": ["a", "b"]}
    assert arrow_rows([], schema).num_rows == 0


def test_empty_local_relation_runs_no_job(spark):
    """An empty local relation is an Arrow ``LocalRelation``: collecting
    it runs no Spark job (an empty pandas frame would be an RDD scan)."""
    from jvector_spark.index.storage import local_relation

    schema = "query_id int, terms array<string>, score double"
    empty = local_relation(spark, [], schema)
    rows, jobs = _jobs(spark, empty.collect)
    assert (rows, jobs) == ([], 0)
    assert empty.schema.simpleString() == (
        "struct<query_id:int,terms:array<string>,score:double>"
    )
    rows, jobs = _jobs(spark, local_relation(spark, [(1, ["a"], 0.5)], schema).collect)
    assert jobs == 0 and rows[0].asDict() == {"query_id": 1, "terms": ["a"], "score": 0.5}


def test_write_local_appends_and_swaps_without_spark(tmp_path):
    from jvector_spark.index.storage import arrow_rows, read_local, write_local

    d = str(tmp_path)
    schema = "part_id int, n long, status string"
    write_local(arrow_rows([(1, 10, "a")], schema), d, "t")
    write_local(arrow_rows([(2, 20, "b")], schema), d, "t")
    assert sorted(read_local(d, "t").to_pylist(), key=lambda r: r["n"]) == [
        {"part_id": 1, "n": 10, "status": "a"}, {"part_id": 2, "n": 20, "status": "b"},
    ]
    assert not os.path.exists(os.path.join(d, "t", "_SUCCESS"))
    write_local(arrow_rows([(3, 30, "c")], schema), d, "t", mode="overwrite")
    got = read_local(d, "t")
    assert got.to_pylist() == [{"part_id": 3, "n": 30, "status": "c"}]
    assert [str(f.type) for f in got.schema] == ["int32", "int64", "string"]
    # the swap leaves the marker and no hidden staging file or directory
    assert os.path.exists(os.path.join(d, "t", "_SUCCESS"))
    assert os.listdir(d) == ["t"]
    assert not [f for f in os.listdir(os.path.join(d, "t")) if f.startswith(".")]

    # no column gets a dictionary page; integer columns are delta-encoded
    import pyarrow.parquet as pq

    write_local(
        arrow_rows([(i % 2, i / 7, [i / 3]) for i in range(50)],
                   "k int, x double, v array<double>"),
        d, "f", mode="overwrite",
    )
    (f,) = [f for f in os.listdir(os.path.join(d, "f")) if f.endswith(".parquet")]
    rg = pq.ParquetFile(os.path.join(d, "f", f)).metadata.row_group(0)
    assert [rg.column(i).has_dictionary_page for i in range(3)] == [False, False, False]
    assert "DELTA_BINARY_PACKED" in rg.column(0).encodings
    assert "DELTA_BINARY_PACKED" not in rg.column(1).encodings


def _spark_segments(spark, index_dir: str) -> dict:
    return spark.read.parquet(os.path.join(index_dir, "segments")).collect()[0].asDict()


def _typed(d: dict) -> dict:
    return {k: (type(v), v) for k, v in d.items()}


@pytest.mark.parametrize("layout", ["term", "doc"])
def test_segments_reader_matches_spark(spark, term_index, doc_index, tmp_path, layout):
    from jvector_spark.index.storage import read_segments, update_segments

    d = _copy(term_index if layout == "term" else doc_index, tmp_path)
    seg = read_segments(spark, d)
    assert _typed(seg) == _typed(_spark_segments(spark, d))
    assert list(seg) == list(_spark_segments(spark, d))

    update_segments(spark, d, k1=1.5, avgdl=seg["avgdl"] + 0.25)
    got = read_segments(spark, d)
    assert _typed(got) == _typed(_spark_segments(spark, d))
    assert got == {**seg, "k1": 1.5, "avgdl": seg["avgdl"] + 0.25}
    if layout == "doc":
        assert got["layout"] == "doc"
        assert got["bucket_width"] == seg["bucket_width"]


def _by_name(schema) -> list:
    return sorted(schema.fields, key=lambda f: f.name)


@pytest.mark.parametrize("layout", ["term", "doc"])
def test_known_table_schemas_match_inferred(
    spark, corpus, term_index, doc_index, tmp_path, layout
):
    from jvector_spark.index.positions import add_positions
    from jvector_spark.index.storage import TABLE_SCHEMAS, read_table

    # columns are matched by name: the build paths do not all write the
    # dictionary's columns in one order, and the known schema fixes the
    # scan's order
    d = _copy(term_index if layout == "term" else doc_index, tmp_path)
    add_positions(corpus.filter(F.col("doc_id") < 800), d)
    for name in TABLE_SCHEMAS:
        inferred = spark.read.parquet(os.path.join(d, name))
        known = read_table(spark, d, name)
        assert _by_name(known.schema) == _by_name(inferred.schema), name
        want = inferred.select(*known.columns).collect()
        assert sorted(known.collect()) == sorted(want), name


def test_tombstone_reader_matches_spark_distinct(spark, term_index, tmp_path):
    from jvector_spark.index.maintenance import delete_docs
    from jvector_spark.index.storage import tombstone_ids

    d = _copy(term_index, tmp_path)
    tomb = os.path.join(d, "tombstones")
    assert tombstone_ids(spark, d) is None  # absent
    os.makedirs(tomb)
    open(os.path.join(tomb, "_SUCCESS"), "w").close()
    assert tombstone_ids(spark, d) is None  # present but holding no data file
    shutil.rmtree(tomb)

    assert delete_docs(spark, d, [5, 3, 3, 9]) == 3
    assert delete_docs(spark, d, iter([9, 11, 5])) == 3
    assert delete_docs(spark, d, spark.createDataFrame([(11,), (12,), (12,)], "x long")) == 2
    want = {r.doc_id for r in spark.read.parquet(tomb).distinct().collect()}
    got = tombstone_ids(spark, d)
    assert got == want == {3, 5, 9, 11, 12}
    assert all(type(x) is int for x in got)


def test_serve_and_delete_job_budgets(spark, term_index, tmp_path):
    from jvector_spark.index.maintenance import delete_docs
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.storage import (
        read_segments,
        tombstone_ids,
        update_segments,
    )
    from jvector_spark.operators.topk import queries_df

    d = _copy(term_index, tmp_path)
    # a list of ids is one pyarrow append
    n, jobs = _jobs(spark, lambda: delete_docs(spark, d, [7, 2, 7, 40]))
    assert (n, jobs) == (3, 0)
    _, jobs = _jobs(spark, lambda: read_segments(spark, d))
    assert jobs == 0
    # the segments row is rewritten with pyarrow, and the swapped-in
    # directory keeps the marker build resume and streaming test for
    seg, jobs = _jobs(spark, lambda: update_segments(spark, d, k1=1.25))
    assert jobs == 0 and seg["k1"] == 1.25
    assert os.path.exists(os.path.join(d, "segments", "_SUCCESS"))
    assert _spark_segments(spark, d) == read_segments(spark, d)
    dead, jobs = _jobs(spark, lambda: tombstone_ids(spark, d))
    assert (dead, jobs) == ({2, 7, 40}, 0)

    terms = [
        r.term
        for r in spark.read.parquet(os.path.join(d, "dictionary"))
        .orderBy(F.desc("df")).limit(2).collect()
    ]
    rows, jobs = _jobs(
        spark,
        lambda: bm25_topk_indexed(
            spark, d, queries_df(spark, [(0, terms)]), k=10, prune=True
        ).collect(),
    )
    assert len(rows) == 10 and not {r.doc_id for r in rows} & dead
    # a driver-sized read: pyarrow dictionary and postings reads, the
    # kernel on the driver, a local relation back
    assert jobs == 0, f"single-query read ran {jobs} Spark jobs"
    # the relational oracle path runs neither a dictionary scan nor a
    # tombstone broadcast (measured 4; 6 with both)
    rows, jobs = _jobs(
        spark,
        lambda: bm25_topk_indexed(
            spark, d, queries_df(spark, [(0, terms)]), k=10, prune=False
        ).collect(),
    )
    assert len(rows) == 10 and not {r.doc_id for r in rows} & dead
    assert jobs <= 4, f"single-query unpruned read ran {jobs} Spark jobs"


def test_filtered_and_positional_read_job_budgets(spark, corpus, term_index, tmp_path):
    """A selective filtered read evaluates its accept relation once (one
    bounded distinct collect picks the branch and is the mask), and a
    positional read opens ``positions`` with its known schema."""
    from jvector_spark.index.positions import add_positions, phrase_count_indexed
    from jvector_spark.index.query import bm25_topk_indexed_filtered
    from jvector_spark.operators.topk import queries_df

    d = _copy(term_index, tmp_path)
    add_positions(corpus.filter(F.col("doc_id") < 800), d)
    terms = [
        r.term
        for r in spark.read.parquet(os.path.join(d, "dictionary"))
        .orderBy(F.desc("df")).limit(2).collect()
    ]
    accept = corpus.filter(F.col("role") == "assistant").select("doc_id")
    rows, jobs = _jobs(
        spark,
        lambda: bm25_topk_indexed_filtered(
            spark, d, queries_df(spark, [(0, terms)]), accept, k=10
        ).collect(),
    )
    assert len(rows) == 10
    assert jobs <= 2, f"selective filtered read ran {jobs} Spark jobs"
    # ``positions`` opens with its known schema: no inference job
    _, jobs = _jobs(spark, lambda: phrase_count_indexed(spark, d, *terms).collect())
    assert jobs <= 2, f"phrase_count_indexed ran {jobs} Spark jobs"


def _doc_stats_totals(spark, index_dir: str) -> tuple[int, float]:
    row = spark.read.parquet(os.path.join(index_dir, "doc_stats")).agg(
        F.count("*").cast("long"), F.avg("dl")
    ).collect()[0]
    return int(row[0]), row[1]


def test_extend_and_compact_keep_exact_global_stats(spark, corpus, term_index, tmp_path):
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.maintenance import compact_index, delete_docs
    from jvector_spark.index.storage import read_segments

    d = _copy(term_index, tmp_path)

    def check():
        seg = read_segments(spark, d)
        n_docs, avgdl = _doc_stats_totals(spark, d)
        assert seg["n_docs"] == n_docs
        assert seg["avgdl"] == avgdl  # bit for bit, not approx

    check()
    # raw rows, ids assigned by the natural key order
    raw = corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 1100)).drop("doc_id")
    m = extend_index(raw, d, order_cols=["conv_id", "turn_idx"])
    assert m["docs_added"] == 300
    check()
    # caller-provided doc_ids; a repeated one raises and writes nothing
    n_old = read_segments(spark, d)["n_docs"]
    delta = corpus.filter((F.col("doc_id") >= 1100) & (F.col("doc_id") < 1250)).withColumn(
        "doc_id", F.col("doc_id") - F.lit(1100) + F.lit(n_old)
    )
    before = _snapshot(d)
    with pytest.raises(ValueError, match=f"doc_id {n_old + 3} more than once"):
        extend_index(delta.unionByName(delta.filter(F.col("doc_id") == n_old + 3)), d,
                     order_cols=None)
    assert _snapshot(d) == before
    m = extend_index(delta, d, order_cols=None)
    assert m["docs_added"] == 150
    check()
    delete_docs(spark, d, [0, 1, 850, n_old + 3])
    compact_index(spark, d)
    check()


def _dictionary(spark, index_dir: str) -> dict:
    return {
        r.term: (r.term_id, r.df, r.cf, r.n_salts)
        for r in spark.read.parquet(os.path.join(index_dir, "dictionary")).collect()
    }


def _spark_max_term_id(spark, index_dir: str) -> int:
    return spark.read.parquet(os.path.join(index_dir, "dictionary")).agg(
        F.max("term_id")
    ).collect()[0][0]


def _with_fresh_terms(df, tag: str):
    """Rows whose text also carries words no base document has."""
    return df.withColumn(
        "text",
        F.concat_ws(
            " ", "text",
            F.concat(F.lit(f"zz{tag}"), (F.col("turn_idx") % 5).cast("string")),
            F.lit(f"qq{tag}"),
        ),
    )


def test_footer_max_and_fresh_term_numbering_without_spark(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from jvector_spark.index.build import _resolve_vocabulary
    from jvector_spark.index.storage import footer_max

    t = str(tmp_path / "dictionary")
    os.makedirs(t)
    assert footer_max(str(tmp_path), "dictionary", "term_id") is None  # no file
    schema = pa.schema([("term", pa.string()), ("term_id", pa.int64())])
    pq.write_table(pa.table({"term": [], "term_id": []}, schema), f"{t}/part-0.parquet")
    assert footer_max(str(tmp_path), "dictionary", "term_id") is None  # no row
    pq.write_table(pa.table({"term": ["a", "b"], "term_id": [7, 3]}, schema),
                   f"{t}/part-1.parquet")
    # a file written without statistics has its column read instead
    pq.write_table(pa.table({"term": ["c"], "term_id": [9]}, schema),
                   f"{t}/part-2.parquet", write_statistics=False)
    assert not pq.ParquetFile(f"{t}/part-2.parquet").metadata.row_group(0).column(1).is_stats_set
    assert footer_max(str(tmp_path), "dictionary", "term_id") == 9

    # (term, df_new, cf_new, term_id, n_salts); term_id None = fresh term
    vocab = [("zeta", 1, 2, None, None), ("é", 1, 1, None, None),
             ("alpha", 2, 5, 4, 3), ("beta", 1, 1, None, None)]
    updates, fresh, tmap = _resolve_vocabulary(vocab, 9)
    assert updates == [("alpha", 2, 5)]
    # code point order, which is Spark's UTF-8 byte order: "é" after "zeta"
    assert fresh == [("beta", 10, 1, 1, 1), ("zeta", 11, 1, 2, 1), ("é", 12, 1, 1, 1)]
    assert tmap == [("alpha", 4, 3), ("beta", 10, 1), ("zeta", 11, 1), ("é", 12, 1)]
    assert [r[1] for r in _resolve_vocabulary(vocab, None)[1]] == [0, 1, 2]


def test_extend_numbers_fresh_terms_after_footer_max(spark, corpus, term_index, tmp_path):
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.storage import footer_max
    from jvector_spark.operators.text_stats import dictionary

    d = _copy(term_index, tmp_path)
    _, jobs = _jobs(spark, lambda: footer_max(d, "dictionary", "term_id"))
    assert jobs == 0
    assert footer_max(d, "dictionary", "term_id") == _spark_max_term_id(spark, d)

    base = corpus.filter(F.col("doc_id") < 800).select("conv_id", "turn_idx", "text")
    deltas = [
        _with_fresh_terms(
            corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            .select("conv_id", "turn_idx", "text"),
            tag,
        )
        for lo, hi, tag in ((800, 950, "b"), (950, 1100, "a"))
    ]
    for delta in deltas:
        before = _dictionary(spark, d)
        old_max = footer_max(d, "dictionary", "term_id")
        extend_index(delta, d, order_cols=["conv_id", "turn_idx"])
        after = _dictionary(spark, d)
        assert footer_max(d, "dictionary", "term_id") == _spark_max_term_id(spark, d)
        # old term_ids and salt plans are stable
        assert {t: after[t][0::3] for t in before} == {t: v[0::3] for t, v in before.items()}
        # fresh terms are numbered from the old max + 1, in term order
        fresh = sorted(set(after) - set(before))
        assert len(fresh) >= 6
        assert [after[t][0] for t in fresh] == list(
            range(old_max + 1, old_max + 1 + len(fresh))
        )
        assert all(after[t][3] == 1 for t in fresh)

    # df/cf equal a full recount over base ∪ deltas
    union = base
    for delta in deltas:
        union = union.unionByName(delta)
    union = union.withColumn("doc_id", F.monotonically_increasing_id())
    from jvector_spark.operators.text_stats import term_freq

    want = {
        r.term: (r.df, r.cf)
        for r in dictionary(term_freq(union), assign_term_ids=False).collect()
    }
    assert {t: v[1:3] for t, v in _dictionary(spark, d).items()} == want


def test_extend_job_budget(spark, corpus, term_index, tmp_path):
    from jvector_spark.index.extend import extend_index

    d = _copy(term_index, tmp_path)
    # the delta is read from one file, as a caller's would be: filtered
    # straight off the session-cached corpus, the count would also include
    # the jobs that re-materialize whatever of that cache the session has
    # evicted by then (2 more in a full test run)
    src = str(tmp_path / "delta.parquet")
    corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 1100)).drop(
        "doc_id"
    ).coalesce(1).write.parquet(src)
    raw = spark.read.parquet(src)
    m, jobs = _jobs(
        spark,
        lambda: extend_index(
            raw, d, order_cols=["conv_id", "turn_idx"],
            doc_map_cols=["conv_id", "turn_idx"],
        ),
    )
    assert m["docs_added"] == 300
    # a driver-sized delta into a driver-sized dictionary, measured on this
    # fixture: 1 (the tokenized collect); the dictionary rewrite, postings,
    # doc_stats, doc_map, segments and lineage are pyarrow writes
    assert jobs <= 1, f"extend_index ran {jobs} Spark jobs"


def _snapshot(index_dir: str) -> dict:
    out = {}
    for root, _, files in os.walk(index_dir):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, index_dir)] = fh.read()
    return out


def test_extend_rejects_doc_ids_below_n_docs(spark, corpus, term_index, tmp_path):
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.storage import read_segments

    d = _copy(term_index, tmp_path)
    n_old = read_segments(spark, d)["n_docs"]
    before = _snapshot(d)
    # one caller id collides with an existing document
    delta = corpus.filter((F.col("doc_id") >= 800) & (F.col("doc_id") < 900)).withColumn(
        "doc_id", F.col("doc_id") - F.lit(800) + F.lit(n_old - 1)
    )
    with pytest.raises(ValueError, match=f"smallest is {n_old - 1}"):
        extend_index(delta, d, order_cols=None)
    assert _snapshot(d) == before
