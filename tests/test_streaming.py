"""Structured-Streaming ingest tests: streamed index == batch-built index,
idempotent replay, incremental pickup of late files, watermarked window
stats, and the stateful conversation tracker.

Analog of the reference's incremental build + checkpoint/resume tests
(TestOnDiskGraphIndex incremental writes, CheckpointManager resume).
"""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _write_chunks(pdf, source_dir: str, n_chunks: int, start: int = 0) -> list[str]:
    """Split the corpus by conv order into chunk files with strictly
    increasing mtimes so the file source triggers them in order."""
    os.makedirs(source_dir, exist_ok=True)
    convs = sorted(pdf["conv_id"].unique())
    paths = []
    per = (len(convs) + n_chunks - 1) // n_chunks
    for i in range(n_chunks):
        chunk_convs = set(convs[i * per : (i + 1) * per])
        chunk = pdf[pdf["conv_id"].isin(chunk_convs)].sort_values(
            ["conv_id", "turn_idx"]
        )
        p = os.path.join(source_dir, f"chunk_{start + i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        t = time.time() + (start + i) * 2
        os.utime(p, (t, t))
        paths.append(p)
    return paths


@pytest.fixture(scope="module")
def stream_pdf():
    from jvector_spark.fixtures import make_transcripts_pdf

    return make_transcripts_pdf(n_turns=1500, seed=11)


def test_stream_index_equals_batch_and_resumes(spark, stream_pdf, tmp_path_factory):
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.doc_ids import assign_dense_ids
    from jvector_spark.operators.topk import bm25_topk_bruteforce, queries_df
    from jvector_spark.streaming import stream_index_transcripts

    root = str(tmp_path_factory.mktemp("stream"))
    src = os.path.join(root, "src")
    idx = os.path.join(root, "idx")
    ckpt = os.path.join(root, "ckpt")
    _write_chunks(stream_pdf, src, n_chunks=3)

    stream_index_transcripts(
        spark, src, idx, ckpt, n_parts=2, max_files_per_trigger=1
    )

    lineage = spark.read.parquet(os.path.join(idx, "stream_lineage")).filter(
        F.col("status") == "complete"
    )
    batches = lineage.count()
    assert batches == 3
    # every complete batch was preceded by its pending marker
    pend = (
        spark.read.parquet(os.path.join(idx, "stream_lineage"))
        .filter(F.col("status") == "pending")
        .count()
    )
    assert pend == batches
    assert (
        lineage.agg(F.sum("docs_indexed")).collect()[0][0] == len(stream_pdf)
    )

    qset = [(0, ["t0001", "t0005"]), (1, ["t0042"]), (2, ["t0007", "t0007", "t0003"])]
    qterms = queries_df(spark, qset)
    got = bm25_topk_indexed(spark, idx, qterms, k=10, prune=True)

    corpus = assign_dense_ids(
        spark.createDataFrame(stream_pdf), ["conv_id", "turn_idx"]
    )
    want = bm25_topk_bruteforce(corpus, qterms, k=10)
    g = [(r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in got.collect()]
    w = [(r.query_id, r.rank, r.doc_id, round(r.score, 9)) for r in want.collect()]
    assert sorted(g) == sorted(w)

    # idempotent replay: rerun with same checkpoint — nothing new committed
    stream_index_transcripts(
        spark, src, idx, ckpt, n_parts=2, max_files_per_trigger=1
    )
    assert (
        spark.read.parquet(os.path.join(idx, "stream_lineage"))
        .filter(F.col("status") == "complete")
        .count()
        == batches
    )


def test_stream_fail_stops_on_partial_batch(spark, stream_pdf, tmp_path_factory):
    """A 'pending' lineage row with no matching 'complete' row proves a
    crash mid-extend (the index may hold a partial delta): restart must
    fail-stop instead of silently double-appending postings."""
    from jvector_spark.streaming import stream_index_transcripts
    from jvector_spark.streaming.ingest import _record_batch

    root = str(tmp_path_factory.mktemp("stream_partial"))
    src = os.path.join(root, "src")
    idx = os.path.join(root, "idx")
    ckpt = os.path.join(root, "ckpt")
    _write_chunks(stream_pdf, src, n_chunks=2)
    # simulate a previous run that crashed mid-extend on some batch
    os.makedirs(idx, exist_ok=True)
    _record_batch(spark, idx, 999, {}, status="pending")
    with pytest.raises(Exception) as ei:
        stream_index_transcripts(spark, src, idx, ckpt, n_parts=2)
    assert "pending" in str(ei.value)


def test_stream_picks_up_new_files_incrementally(spark, stream_pdf, tmp_path_factory):
    from jvector_spark.fixtures import make_transcripts_pdf
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.storage import read_segments
    from jvector_spark.operators.topk import queries_df
    from jvector_spark.streaming import stream_index_transcripts

    root = str(tmp_path_factory.mktemp("stream_inc"))
    src = os.path.join(root, "src")
    idx = os.path.join(root, "idx")
    ckpt = os.path.join(root, "ckpt")
    _write_chunks(stream_pdf, src, n_chunks=2)
    stream_index_transcripts(spark, src, idx, ckpt, n_parts=2)
    n1 = int(read_segments(spark, idx)["n_docs"])
    assert n1 == len(stream_pdf)

    late = make_transcripts_pdf(n_turns=400, seed=99)
    late["conv_id"] = "zz_" + late["conv_id"]  # ids continue above n1
    _write_chunks(late, src, n_chunks=1, start=2)
    stream_index_transcripts(spark, src, idx, ckpt, n_parts=2)
    n2 = int(read_segments(spark, idx)["n_docs"])
    assert n2 == len(stream_pdf) + len(late)

    # the late docs are searchable
    qterms = queries_df(spark, [(0, ["t0001"])])
    got = bm25_topk_indexed(spark, idx, qterms, k=n2)
    assert got.filter(F.col("doc_id") >= n1).count() > 0


def test_amortized_staging_and_flush_equals_batch(
    spark, stream_pdf, tmp_path_factory
):
    """merge_every parks post-build batches in stream_staging (visible via
    staged_docs, invisible to the index) until flush_staged folds them all
    into ONE extend — and the flushed index answers queries identically to
    a brute-force over the full corpus."""
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.index.storage import read_segments
    from jvector_spark.operators.doc_ids import assign_dense_ids
    from jvector_spark.operators.topk import bm25_topk_bruteforce, queries_df
    from jvector_spark.streaming import (
        flush_staged,
        staged_docs,
        stream_index_transcripts,
    )

    root = str(tmp_path_factory.mktemp("stream_amort"))
    src = os.path.join(root, "src")
    idx = os.path.join(root, "idx")
    ckpt = os.path.join(root, "ckpt")
    _write_chunks(stream_pdf, src, n_chunks=4)

    stream_index_transcripts(
        spark, src, idx, ckpt, n_parts=2, max_files_per_trigger=1,
        merge_every=10,
    )
    lineage = spark.read.parquet(os.path.join(idx, "stream_lineage"))
    assert lineage.filter(F.col("status") == "staged").count() == 3
    n_built = int(read_segments(spark, idx)["n_docs"])
    st = staged_docs(spark, idx)
    assert st is not None
    assert n_built + st.count() == len(stream_pdf)

    m = flush_staged(spark, idx)
    assert m["batches_merged"] == 3
    assert int(read_segments(spark, idx)["n_docs"]) == len(stream_pdf)
    assert staged_docs(spark, idx) is None

    qterms = queries_df(
        spark, [(0, ["t0001", "t0005"]), (1, ["t0042"]), (2, ["t0007", "t0003"])]
    )
    got = bm25_topk_indexed(spark, idx, qterms, k=10, prune=True)
    corpus = assign_dense_ids(
        spark.createDataFrame(stream_pdf), ["conv_id", "turn_idx"]
    )
    want = bm25_topk_bruteforce(corpus, qterms, k=10)
    g = {(r.query_id, r.rank, round(r.score, 9)) for r in got.collect()}
    w = {(r.query_id, r.rank, round(r.score, 9)) for r in want.collect()}
    assert g == w

    # replay after flush: nothing re-applied
    stream_index_transcripts(
        spark, src, idx, ckpt, n_parts=2, max_files_per_trigger=1,
        merge_every=10,
    )
    assert int(read_segments(spark, idx)["n_docs"]) == len(stream_pdf)


def test_amortized_threshold_triggers_merge(spark, stream_pdf, tmp_path_factory):
    """Crossing merge_every inside the stream triggers the flush without a
    manual call (every batch ends committed, staging drained)."""
    from jvector_spark.index.storage import read_segments
    from jvector_spark.streaming import staged_docs, stream_index_transcripts

    root = str(tmp_path_factory.mktemp("stream_thresh"))
    src = os.path.join(root, "src")
    idx = os.path.join(root, "idx")
    ckpt = os.path.join(root, "ckpt")
    _write_chunks(stream_pdf, src, n_chunks=3)
    stream_index_transcripts(
        spark, src, idx, ckpt, n_parts=2, max_files_per_trigger=1,
        merge_every=2,
    )
    assert int(read_segments(spark, idx)["n_docs"]) == len(stream_pdf)
    assert staged_docs(spark, idx) is None
    lineage = spark.read.parquet(os.path.join(idx, "stream_lineage"))
    assert lineage.filter(F.col("status") == "complete").count() == 3


def test_streaming_role_stats_matches_batch(spark, stream_pdf, tmp_path_factory):
    from jvector_spark.streaming import streaming_role_stats, transcript_stream

    root = str(tmp_path_factory.mktemp("stream_stats"))
    src = os.path.join(root, "src")
    _write_chunks(stream_pdf, src, n_chunks=2)

    stats = streaming_role_stats(transcript_stream(spark, src), "1 hour", "2 hours")
    q = (
        stats.writeStream.format("memory")
        .queryName("role_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = (
        spark.table("role_stats")
        .groupBy()
        .agg(F.sum("n_turns").alias("n"))
        .collect()[0]["n"]
    )
    assert got == len(stream_pdf)

    batch = spark.createDataFrame(stream_pdf)
    want_roles = {
        (r.role, r.n)
        for r in batch.groupBy("role").agg(F.count("*").alias("n")).collect()
    }
    got_roles = {
        (r.role, r.n)
        for r in spark.table("role_stats")
        .groupBy("role")
        .agg(F.sum("n_turns").alias("n"))
        .collect()
    }
    assert got_roles == want_roles


def test_conversation_progress_state_carries_across_batches(
    spark, stream_pdf, tmp_path_factory
):
    from jvector_spark.streaming import conversation_progress, transcript_stream

    root = str(tmp_path_factory.mktemp("stream_state"))
    src = os.path.join(root, "src")
    # split WITHIN conversations: first file = even turn_idx, second = odd,
    # so every conversation spans both microbatches
    pdf = stream_pdf.copy()
    a = pdf[pdf["turn_idx"] % 2 == 0].sort_values(["conv_id", "turn_idx"])
    b = pdf[pdf["turn_idx"] % 2 == 1].sort_values(["conv_id", "turn_idx"])
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate([a, b]):
        p = os.path.join(src, f"chunk_{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), p)
        t = time.time() + i * 2
        os.utime(p, (t, t))

    prog = conversation_progress(
        transcript_stream(spark, src, max_files_per_trigger=1)
    )
    q = (
        prog.writeStream.format("memory")
        .queryName("conv_progress")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table("conv_progress")
        .groupBy("conv_id")
        .agg(F.max("turns_seen").alias("turns_seen"), F.max("max_turn_idx").alias("mx"))
    )
    want = (
        spark.createDataFrame(stream_pdf)
        .groupBy("conv_id")
        .agg(F.count("*").alias("n"), F.max("turn_idx").alias("mx"))
    )
    diff = (
        final.join(want, "conv_id")
        .filter((F.col("turns_seen") != F.col("n")) | (final["mx"] != want["mx"]))
        .count()
    )
    assert diff == 0
    assert final.count() == want.count()


def test_orphaned_committed_staging_is_pruned(spark, stream_pdf, tmp_path_factory):
    """A crash between flush_staged's 'complete' lineage write and its
    staging cleanup leaves an orphaned stream_staging/batch_id=N dir; the
    next flush (or stream start) must reclaim it instead of leaking disk
    forever — and staged_docs must never resurface it."""
    from jvector_spark.streaming import (
        flush_staged,
        staged_docs,
        stream_index_transcripts,
    )

    root = str(tmp_path_factory.mktemp("stream_orphan"))
    src = os.path.join(root, "src")
    idx = os.path.join(root, "idx")
    ckpt = os.path.join(root, "ckpt")
    _write_chunks(stream_pdf, src, n_chunks=3)
    stream_index_transcripts(
        spark, src, idx, ckpt, n_parts=2, max_files_per_trigger=1,
        merge_every=10,
    )
    flush_staged(spark, idx)
    # simulate the crash: resurrect a staging dir for an already-committed
    # batch (the state a mid-cleanup crash leaves behind)
    orphan = os.path.join(idx, "stream_staging", "batch_id=1")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-orphan.parquet"), "wb") as f:
        f.write(b"not-read")
    assert staged_docs(spark, idx) is None  # committed → not a memtable row
    flush_staged(spark, idx)
    assert not os.path.exists(orphan)


def test_batch_states_read_a_mixed_lineage_without_a_job(spark, tmp_path):
    """A lineage that mixes a pre-status 4-column file with new rows: the
    old rows count as committed (a null status), a 'pending' or 'staged'
    row of a committed batch is ignored, and the read is a pyarrow read
    on the driver — no Spark job per microbatch."""
    from test_local_tables import _jobs

    from jvector_spark.index.storage import arrow_rows, write_local
    from jvector_spark.streaming.ingest import _batch_states, _record_batch

    d = str(tmp_path / "idx")
    assert _batch_states(spark, d) == (set(), set(), set())
    write_local(
        arrow_rows(
            [(1, 10, 100, 1000), (2, 5, 50, 500)],
            "batch_id long, docs_indexed long, postings_emitted long, bytes_compressed long",
        ),
        d, "stream_lineage",
    )
    assert _batch_states(spark, d) == ({1, 2}, set(), set())
    _record_batch(spark, d, 2, {}, status="pending")
    _record_batch(spark, d, 3, {}, status="pending")
    _record_batch(spark, d, 4, {}, status="staged")
    _record_batch(spark, d, 5, {})
    states, jobs = _jobs(spark, lambda: _batch_states(spark, d))
    assert states == ({1, 2, 5}, {3}, {4})
    assert jobs == 0
