"""Spark-free checks of the benchmark's own arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pandas as pd
import pytest

import layers
from arith import (
    interval_union,
    median,
    percentile,
    proc_stat_cores,
    recall_at_k,
    self_time,
    tail_rank,
    topk_mismatch,
)
from oracles import LiveCorpusOracle, cosine_topk_np, dense_ids
from sparktrace import parse_sql_metric

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _union_by_grid(intervals, lo, hi, step=0.5):
    """Reference: count covered grid cells of width ``step``."""
    cells = 0
    x = lo
    while x < hi:
        if any(s <= x and x + step <= e for s, e in intervals):
            cells += 1
        x += step
    return cells * step


def test_union_disjoint_overlapping_nested_and_touching():
    assert interval_union([]) == 0
    assert interval_union([(0, 1), (2, 3)]) == 2
    assert interval_union([(0, 2), (1, 3)]) == 3
    assert interval_union([(0, 10), (2, 3), (4, 5)]) == 10
    assert interval_union([(0, 1), (1, 2)]) == 2
    assert interval_union([(3, 1)]) == 0


def test_union_clips_to_call_window():
    # a stage that started before the call or ended after it only counts
    # the part inside the call
    assert interval_union([(-5, 2), (8, 20)], lo=0, hi=10) == 4
    assert interval_union([(11, 12)], lo=0, hi=10) == 0


def test_union_matches_grid_reference_on_random_intervals():
    rng = random.Random(7)
    for _ in range(200):
        ivs = []
        for _ in range(rng.randint(0, 8)):
            s = rng.randint(0, 40) / 2
            ivs.append((s, s + rng.randint(0, 12) / 2))
        assert interval_union(ivs, 0, 20) == _union_by_grid(ivs, 0, 20)


def test_driver_plus_stage_union_is_wall():
    # driver_ms is defined as the call's self time: wall minus stage cover
    start, end = 100.0, 160.0
    stages = [(90.0, 110.0), (105.0, 120.0), (130.0, 170.0)]
    driver = self_time(start, end, stages)
    assert driver == pytest.approx(60 - 20 - 30)
    assert driver + interval_union(stages, start, end) == pytest.approx(end - start)


def test_self_time_without_children_is_duration():
    assert self_time(2.0, 5.5, []) == pytest.approx(3.5)


def test_tail_rank_needs_ten_samples_beyond():
    assert tail_rank(9) is None
    assert tail_rank(19) is None  # the median would have only 9 beyond
    assert tail_rank(20) == pytest.approx(50.0)
    assert tail_rank(100) == pytest.approx(90.0)
    assert tail_rank(1000) == pytest.approx(99.0)
    for n in (20, 37, 100, 250):
        q = tail_rank(n)
        xs = list(range(n))
        beyond = sum(x > percentile(xs, q) for x in xs)
        assert beyond >= 10


def test_percentile_and_median():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1
    assert median(xs) == 3
    assert median([1, 2, 3, 10]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_recall_at_10():
    truth = list(range(10))
    assert recall_at_k(truth, truth) == 1.0
    assert recall_at_k(list(range(5, 15)), truth) == 0.5
    assert recall_at_k(list(reversed(truth)), truth) == 1.0  # order-free
    assert recall_at_k(list(range(100, 110)), truth) == 0.0
    assert recall_at_k(list(range(20)), truth) == 1.0  # only the top 10 count
    assert recall_at_k([], []) == 1.0


def test_topk_mismatch_tolerates_ties_only():
    want = [(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)]
    assert not topk_mismatch(want, want)
    # tied docs may swap, or be replaced by another doc with the same score
    assert not topk_mismatch([(1, 3.0), (3, 2.0), (2, 2.0), (4, 1.0)], want)
    # a unique-score doc may not change, nor may a score or the length
    assert topk_mismatch([(9, 3.0), (2, 2.0), (3, 2.0), (4, 1.0)], want)
    assert topk_mismatch([(1, 3.0), (2, 2.0), (3, 2.0), (4, 1.5)], want)
    assert topk_mismatch(want[:3], want)
    assert not topk_mismatch([(1, 3.0 + 1e-12)], [(1, 3.0)])


def test_proc_stat_busy_and_steal():
    text = "cpu  100 5 20 1000 7 3 2 9 0 0\ncpu0 50 0 10 500 3 1 1 4 0 0\n"
    assert proc_stat_cores(text) == (100 + 5 + 20 + 3 + 2, 9)
    with pytest.raises(ValueError):
        proc_stat_cores("intr 1 2 3\n")


def test_parse_sql_metric_units():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "7.5 s (2.4 s, 2.5 s, 2.6 s (stage 2.0: task 5))") == 7500
    assert parse_sql_metric("320 ms") == 320
    assert parse_sql_metric("5.2 KiB") == pytest.approx(5.2 * 1024)
    assert parse_sql_metric("560.0 B") == 560
    assert parse_sql_metric("") == 0


def test_dense_ids_follow_conv_then_turn_order():
    pdf = pd.DataFrame({"conv_id": ["b", "a", "b", "a"], "turn_idx": [0, 1, 1, 0],
                        "text": ["w", "x", "y", "z"]})
    assert dense_ids(pdf).tolist() == [2, 1, 3, 0]
    assert dense_ids(pdf, offset=10).tolist() == [12, 11, 13, 10]


def test_live_oracle_masks_dead_docs_with_stale_stats():
    base = pd.DataFrame({"conv_id": ["c"] * 3, "turn_idx": [0, 1, 2],
                         "text": ["apple pie", "apple", "pear"]})
    o = LiveCorpusOracle(base)
    full = o.topk([["apple"]], o.n_docs, frozenset(), k=10)[0]
    assert [d for d, _ in full] == [1, 0]
    masked = o.topk([["apple"]], o.n_docs, frozenset({1}), k=10)[0]
    assert masked == [full[1]]  # same score: statistics still count doc 1
    o.extend(pd.DataFrame({"conv_id": ["d"], "turn_idx": [0], "text": ["apple"]}))
    assert o.n_docs == 4 and o.ids[-1] == 3
    # a read served before the extend is checked against the old prefix
    assert o.topk([["apple"]], 3, frozenset(), k=10)[0] == full


def test_cosine_oracle_ranks_by_cos_then_id():
    X = np.array([[1.0, 0.0], [2.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    ids = np.array([10, 11, 12, 13])
    got = cosine_topk_np(X, ids, np.array([1.0, 0.0]), k=3)
    assert [d for d, _ in got] == [10, 11, 13]
    assert got[0][1] == pytest.approx(1.0)


def test_benchmark_json_matches_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == layers.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == layers.PER_LAYER
    assert len(layers.PER_LAYER) <= 128


def _rec(layer, name, phase, wall, union, **extra):
    from sparktrace import SESSION_KEYS

    r = {k: 0.0 for k in SESSION_KEYS}
    r.update(layer=layer, name=name, phase=phase, request_id=0, wall_ms=wall,
             stage_union_ms=union, driver_ms=wall - union, jobs=1.0, **extra)
    return r


def test_per_layer_sums_session_and_medians_modules():
    recs = [
        _rec("index.build", "build_index_transcripts", "setup", 9000.0, 6000.0),
        _rec("index.query", "bm25_topk_indexed", "timed", 2000.0, 1200.0,
             blocks_decoded=4, blocks_skipped=1, kernel_ms=[1.0]),
        _rec("index.query", "bm25_topk_indexed", "timed", 2400.0, 1300.0,
             blocks_decoded=6, blocks_skipped=3, kernel_ms=[3.0]),
        _rec("index.extend", "extend_index", "timed", 9000.0, 5000.0, bytes_written=10),
    ]
    result = {"read_p50_ms": 2200.0, "ops_per_s": 0.3, "read_cpu_ms": 900.0,
              "op_cpu_ms": 1500.0, "storage": {"postings": 5}}
    out = layers.per_layer(recs, result, {"busy_core_s": 1.0, "steal_core_s": 0.5})
    assert set(out) == set(layers.PER_LAYER)
    assert out["session.calls"] == 3
    assert out["session.wall_ms"] == 13400.0  # set-up calls are not summed
    assert out["session.driver_ms"] + out["session.stage_union_ms"] == out["session.wall_ms"]
    assert out["index.build.wall_ms"] == 9000.0
    assert out["index.query.wall_ms"] == 2200.0
    assert out["index.query.skip_ratio"] == pytest.approx(4 / 14)
    assert out["index.extend.bytes_written"] == 10
    assert out["index.storage.postings_bytes"] == 5
    assert out["index.vectors.pq_wall_ms"] == 0.0  # layer not called


def test_traced_run_self_check():
    import run

    good = [_rec("index.query", "q", "timed", 10.0, 4.0)]
    run._check_records(good, attempted=1)
    with pytest.raises(RuntimeError):
        run._check_records(good, attempted=2)
    bad = dict(good[0], driver_ms=1.0)
    with pytest.raises(RuntimeError):
        run._check_records([bad], attempted=1)


def test_inputs_are_byte_identical_for_a_seed(tmp_path):
    import inputs

    dirs = [tmp_path / "a", tmp_path / "b", tmp_path / "c"]
    for d in dirs:
        d.mkdir()
    text = [inputs.text_inputs(s, str(d)) for s, d in zip((5, 5, 6), dirs)]
    vec = [inputs.vector_inputs(s, str(d)) for s, d in zip((5, 5, 6), dirs)]
    assert text[0]["sha256"] == text[1]["sha256"] != text[2]["sha256"]
    assert vec[0]["sha256"] == vec[1]["sha256"] != vec[2]["sha256"]
    # every single read reaches the postings: no all-absent query
    assert all(any(not t.startswith("zzabsent") for t in q)
               for _, q in text[0]["read_queries"])
