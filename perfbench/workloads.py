"""The benchmark's workloads: one closed-loop client (one call in flight)
calling only the engine's public functions.

Each workload returns its end-to-end numbers, its extra report lines and the
wrong results the oracle checks found, as ``(phase, message)`` with one entry
per wrong call. Checks run after the measuring window, so they never sit
between two timed calls.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np

from arith import (
    median,
    percentile,
    proc_stat_cores,
    recall_at_k,
    tail_rank,
    topk_mismatch,
)
from layers import STORAGE_TABLES, TIERS
from oracles import LiveCorpusOracle, cosine_topk_np

K = 10
ORDER_COLS = ["conv_id", "turn_idx"]
# serve_mixed: one cycle of calls, in order. Reads sit between the writes, so
# a burst of host contention in one part of the cycle does not hit every read
CYCLE = ("read", "read", "extend", "read", "delete", "read", "read")
DELETES_PER_WAVE = 20
# ann_serve: the exact scan first, then each persisted tier, round-robin
ANN_KINDS = ("exact",) + TIERS
# a compressed tier's call is wrong below this recall@10 against numpy: it
# flags a broken tier, not a weak one (PQ's per-query recall on these inputs
# ranges over 0.5-1.0)
RECALL_FLOOR = 0.2


class SetupFailed(RuntimeError):
    """A set-up call raised; the workload cannot be measured."""


_TICK = os.sysconf("SC_CLK_TCK")


def proc_stat() -> tuple[float, float]:
    """(busy, steal) core-seconds of the machine since boot."""
    with open("/proc/stat") as fh:
        busy, steal = proc_stat_cores(fh.read())
    return busy / _TICK, steal / _TICK


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under ``path`` (0 when absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Calls:
    """Times each call into the engine, takes the CPU core time the machine
    spent during it, and, when a tracer is given, turns it into a layer
    record. Only ``timed`` calls count as attempted.

    CPU time is read from /proc/stat around the call: the busy core-seconds
    of the whole machine, so the engine's JVM, its Python workers and the
    driver all count. Time the hypervisor gives to other tenants (steal) is
    not busy time, which keeps this cost steady where wall time is not."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.timed: list[dict] = []
        self._req = 0

    def call(self, layer: str, name: str, fn, phase: str = "timed"):
        """Run ``fn()``; returns ``(result, wall_s, ok, record)``. A raising
        call is reported on stderr and counted as failed."""
        self._req += 1
        before = self.tracer.snapshot() if self.tracer else None
        busy0, steal0 = proc_stat()
        t0 = time.time()
        try:
            out, ok = fn(), True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            out, ok = None, False
        t1 = time.time()
        busy1, steal1 = proc_stat()
        cpu = {"busy_core_ms": (busy1 - busy0) * 1e3,
               "steal_core_ms": (steal1 - steal0) * 1e3}
        rec = None
        if self.tracer:
            rec = self.tracer.record(layer, name, self._req, phase, t0, t1,
                                     before, ok=ok, **cpu)
        if phase == "timed":
            self.timed.append({"layer": layer, "name": name, "wall_s": t1 - t0,
                               "ok": ok, "start": t0, "end": t1, **cpu})
        return out, t1 - t0, ok, rec


def _window_rate(calls: Calls) -> float:
    first = min(c["start"] for c in calls.timed)
    last = max(c["end"] for c in calls.timed)
    return len(calls.timed) / (last - first)


def _costs(calls: Calls, reads) -> dict:
    """The workload's timed numbers: read latency and CPU cost (medians over
    the read calls), and throughput and mean CPU cost over every timed
    call, writes included."""
    return {
        "read_p50_ms": median(c["wall_s"] * 1e3 for c in reads),
        "read_cpu_ms": median(c["busy_core_ms"] for c in reads),
        "ops_per_s": _window_rate(calls),
        "op_cpu_ms": sum(c["busy_core_ms"] for c in calls.timed) / len(calls.timed),
    }


def _tail_line(name: str, walls_ms) -> str:
    q = tail_rank(len(walls_ms))
    tail = (f"p{q:.0f}={percentile(walls_ms, q):.1f} ms" if q is not None
            else "no tail percentile has 10 samples beyond it")
    return f"{name}: n={len(walls_ms)} p50={median(walls_ms):.1f} ms {tail}"


def _victims(rng, oracle: LiveCorpusOracle, recent: set) -> list[int]:
    """A delete wave: up to half the ids the reads since the last wave
    returned (so masking is exercised), the rest drawn from the live docs."""
    live = np.setdiff1d(np.arange(oracle.n_docs), np.fromiter(oracle.dead, np.int64))
    hot = sorted(recent - oracle.dead)[: DELETES_PER_WAVE // 2]
    cold = rng.choice(np.setdiff1d(live, hot), DELETES_PER_WAVE - len(hot), replace=False)
    return sorted({*hot, *(int(x) for x in cold)})


def serve_mixed(spark, calls: Calls, inp: dict, seconds: float,
                workdir: str, traced: bool) -> dict:
    """Set-up builds the BM25 index and runs one warm-up batch. The window
    repeats ``CYCLE``: single-query ``bm25_topk_indexed`` reads around one
    ``extend_index`` delta and one ``delete_docs`` wave. It starts no cycle
    after ``seconds``."""
    from jvector_spark.index.build import build_index_transcripts
    from jvector_spark.index.extend import extend_index
    from jvector_spark.index.maintenance import delete_docs
    from jvector_spark.index.query import bm25_topk_indexed
    from jvector_spark.operators.topk import queries_df

    idx = os.path.join(workdir, "index")
    oracle = LiveCorpusOracle(inp["corpus"])
    reads: list[tuple] = []  # (n_docs, dead, queries, rows, phase)

    src = spark.read.parquet(inp["corpus_path"])
    _, build_s, ok, _ = calls.call(
        "index.build", "build_index_transcripts",
        lambda: build_index_transcripts(
            src, idx, ORDER_COLS, doc_map_cols=ORDER_COLS, n_parts=2,
            salt_threshold=4096, target_salt_postings=4096),
        "setup")
    if not ok:
        raise SetupFailed("build_index_transcripts")
    text_bytes = sum(len(t.encode("utf-8")) for t in inp["corpus"]["text"])
    built_bytes = dir_bytes(idx)

    def query(qs, phase):
        qdf = queries_df(spark, qs)
        rows, wall, ok, rec = calls.call(
            "index.query", "bm25_topk_indexed",
            lambda: bm25_topk_indexed(spark, idx, qdf, k=K, prune=True,
                                      with_metrics=traced).collect(),
            phase)
        if ok:
            reads.append((oracle.n_docs, frozenset(oracle.dead), qs, rows, phase))
        if rec is not None and ok:
            per_q = {r["query_id"]: r for r in rows}
            rec["blocks_decoded"] = sum(r["blocks_decoded"] for r in per_q.values())
            rec["blocks_skipped"] = sum(r["blocks_skipped"] for r in per_q.values())
            rec["kernel_ms"] = [float(r["kernel_ms"]) for r in per_q.values()]
        return rows, wall

    _, warm_s = query(inp["warm_queries"], "setup")
    setup_calls_s = build_s + warm_s

    rng = np.random.default_rng(inp["delete_seed"])
    pool = inp["read_queries"]
    t_start = time.time()
    cycle = nq = 0
    extend_s, extend_turns, recent = [], 0, set()
    while cycle < len(inp["deltas"]) and (cycle == 0 or time.time() - t_start < seconds):
        for step in CYCLE:
            if step == "read":
                q = pool[nq % len(pool)]
                nq += 1
                rows, _ = query([(0, q[1])], "timed")
                recent |= {int(r["doc_id"]) for r in rows or []}
            elif step == "extend":
                delta = inp["deltas"][cycle]
                ddf = spark.read.parquet(inp["delta_paths"][cycle])
                size_before = dir_bytes(idx) if traced else 0
                _, wall, ok, rec = calls.call(
                    "index.extend", "extend_index",
                    lambda: extend_index(ddf, idx, order_cols=ORDER_COLS,
                                         doc_map_cols=ORDER_COLS))
                if rec is not None:
                    rec["bytes_written"] = dir_bytes(idx) - size_before
                if ok:
                    oracle.extend(delta)
                    extend_s.append(wall)
                    extend_turns += len(delta)
            else:
                victims = _victims(rng, oracle, recent)
                size_before = dir_bytes(idx) if traced else 0
                _, _, ok, rec = calls.call(
                    "index.maintenance", "delete_docs",
                    lambda: delete_docs(spark, idx, victims))
                if rec is not None:
                    rec["bytes_written"] = dir_bytes(idx) - size_before
                if ok:
                    oracle.delete(victims)
                recent = set()
        cycle += 1

    storage = {name: dir_bytes(os.path.join(idx, name)) for name in STORAGE_TABLES}

    # ---- oracle checks, outside the window: one oracle pass per index state
    wrong = []
    by_state: dict[tuple, list] = {}
    for n_docs, dead, qs, rows, phase in reads:
        by_state.setdefault((n_docs, dead), []).append((qs, rows, phase))
    for (n_docs, dead), group in by_state.items():
        terms = [t for qs, _, _ in group for _, t in qs]
        want = iter(oracle.topk(terms, n_docs, dead, K))
        for qs, rows, phase in group:
            got: dict[int, list] = {qid: [] for qid, _ in qs}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got[r["query_id"]].append((r["doc_id"], r["score"]))
            bad = []
            for qid, t in qs:
                w = next(want)
                served_dead = {d for d, _ in got[qid]} & dead
                if served_dead or topk_mismatch(got[qid], w):
                    bad.append(f"query {t}: got {got[qid][:3]}..., want {w[:3]}..., "
                               f"tombstoned served {sorted(served_dead)}")
            if bad:
                wrong.append((phase, f"{len(bad)} wrong, first {bad[0]}"))

    read_ms = [c["wall_s"] * 1e3 for c in calls.timed if c["layer"] == "index.query"]
    delete_ms = [c["wall_s"] * 1e3 for c in calls.timed if c["layer"] == "index.maintenance"]
    report = [
        f"inputs sha256={inp['sha256']}",
        f"build_turns_per_s={len(inp['corpus']) / build_s:.1f} 1/s (set-up build, "
        f"{len(inp['corpus'])} turns)",
        f"index_bytes_per_text_byte={built_bytes / text_bytes:.6f} ratio",
        _tail_line("query (single, closed loop)", read_ms),
        f"extend_turns_per_s={extend_turns / max(sum(extend_s), 1e-9):.1f} 1/s "
        f"over {len(extend_s)} deltas",
        f"delete p50={median(delete_ms):.1f} ms over {len(delete_ms)} waves",
        f"cycles={cycle} reads={len(read_ms)} storage={storage}",
    ]
    return {
        "setup_calls_s": setup_calls_s,
        **_costs(calls, [c for c in calls.timed if c["layer"] == "index.query"]),
        "index_bytes_per_input_byte": built_bytes / text_bytes,
        "storage": storage,
        "build_turns_per_s": len(inp["corpus"]) / build_s,
        "extend_turns_per_s": extend_turns / max(sum(extend_s), 1e-9),
        "wrong": wrong,
        "report": report,
    }


def _bad_rerank(rows, inp: dict, q: np.ndarray) -> str:
    """Why a tier's answer is not a valid exactly-reranked top-k ('' when
    it is): k distinct known ids, ranks 1..k, and scores that are the ids'
    true cosines, descending. Vector ids are 0..n-1 by construction."""
    rows = sorted(rows, key=lambda r: r["rank"])
    ids = np.array([int(r["vec_id"]) for r in rows], dtype=np.int64)
    if len(ids) != K or len(set(ids.tolist())) != K:
        return f"{len(ids)} rows, {len(set(ids.tolist()))} distinct ids"
    if [r["rank"] for r in rows] != list(range(1, K + 1)):
        return "ranks are not 1..k"
    if ids.min() < 0 or ids.max() >= len(inp["ids"]):
        return "unknown id"
    X = inp["X"][ids]
    true = X @ q / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    got = np.array([float(r["cos"]) for r in rows])
    if not np.allclose(got, true, rtol=0, atol=1e-6):
        return "scores are not the ids' cosines"
    if np.any(np.diff(got) > 1e-12):
        return "scores do not descend"
    return ""


def ann_serve(spark, calls: Calls, inp: dict, seconds: float,
              workdir: str, traced: bool) -> dict:
    """Set-up persists the SQ8, PQ, BQ and NVQ tiers and warms each serve
    path with one call. The window sends single-query calls
    round-robin over the exact ``cosine_topk`` scan and the four
    ``ann_topk_*_indexed`` tiers, and starts no round after ``seconds``."""
    from jvector_spark.index import vectors as V
    from jvector_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(inp["path"])
    dirs = {t: os.path.join(workdir, t) for t in TIERS}
    builds = {"sq8": V.sq8_build, "pq": V.pq_build, "bq": V.bq_build, "nvq": V.nvq_build}
    serve = {"sq8": V.ann_topk_sq8_indexed, "pq": V.ann_topk_pq_indexed,
             "bq": V.ann_topk_bq_indexed, "nvq": V.ann_topk_nvq_indexed}
    setup_calls_s = 0.0
    for tier, fn in builds.items():
        _, wall, ok, _ = calls.call("index.vectors", f"{tier}_build",
                                    lambda: fn(emb, dirs[tier]), "setup")
        if not ok:
            raise SetupFailed(f"{tier}_build")
        setup_calls_s += wall
    code_bytes = {t: dir_bytes(d) for t, d in dirs.items()}
    raw_bytes = inp["X"].size * 8

    def ann(kind, qv, phase):
        if kind == "exact":
            layer, name = "operators.similarity", "cosine_topk"
            fn = lambda: cosine_topk(emb, qv, k=K).collect()  # noqa: E731
        else:
            layer, name = "index.vectors", f"ann_topk_{kind}_indexed"
            fn = lambda: serve[kind](spark, dirs[kind], emb, qv, k=K).collect()  # noqa: E731
        rows, wall, _, rec = calls.call(layer, name, fn, phase)
        return rows, wall, rec

    # one untimed round: each kind's first call plans and compiles its own
    # query shapes (the first SQ8 call runs ~0.9 s slower than later ones)
    queries = inp["queries"]
    for kind in ANN_KINDS:
        _, wall, _ = ann(kind, [float(x) for x in queries[0]], "setup")
        setup_calls_s += wall
    nq = 1

    served: list[tuple] = []  # (kind, query row, rows, wall_ms, record)
    t_start = time.time()
    while nq == 1 or time.time() - t_start < seconds:
        qi = nq % len(queries)
        qv = [float(x) for x in queries[qi]]
        for kind in ANN_KINDS:
            rows, wall, rec = ann(kind, qv, "timed")
            served.append((kind, qi, rows, wall * 1e3, rec))
        nq += 1

    wrong, recalls = [], {t: [] for t in ANN_KINDS}
    walls = {t: [] for t in ANN_KINDS}
    for kind, qi, rows, wall_ms, rec in served:
        walls[kind].append(wall_ms)
        if rows is None:
            continue
        got = [(r["vec_id"], r["cos"]) for r in sorted(rows, key=lambda r: r["rank"])]
        want = cosine_topk_np(inp["X"], inp["ids"], queries[qi], K)
        rc = recall_at_k([d for d, _ in got], [d for d, _ in want], K)
        recalls[kind].append(rc)
        if rec is not None:
            rec["recall10"] = rc
        if kind == "exact":
            bad = "ranking differs" if topk_mismatch(got, want) else ""
        else:
            bad = _bad_rerank(rows, inp, queries[qi]) or (
                f"recall@10 {rc:.2f} < {RECALL_FLOOR}" if rc < RECALL_FLOOR else "")
        if bad:
            wrong.append(("timed", f"{kind} query {qi}: {bad}; "
                                   f"got {got[:3]}..., want {want[:3]}..."))

    tier_recall = {t: float(np.mean(v)) for t, v in recalls.items() if v}
    report = [f"inputs sha256={inp['sha256']}"]
    report += [f"ann_{t}_p50_ms={median(w):.1f} ms (n={len(w)}, recall10="
               f"{tier_recall.get(t, float('nan')):.3f})" for t, w in walls.items()]
    report += [
        _tail_line("ann (pooled tiers)", [w for t in TIERS for w in walls[t]]),
        f"ann_recall10_min={min(tier_recall.get(t, 0.0) for t in TIERS):.3f}",
        f"code_bytes={code_bytes} raw_vector_bytes={raw_bytes}",
    ]
    return {
        "setup_calls_s": setup_calls_s,
        **_costs(calls, calls.timed),
        "index_bytes_per_input_byte": sum(code_bytes.values()) / raw_bytes,
        "code_bytes": code_bytes,
        "wrong": wrong,
        "report": report,
    }


WORKLOADS = {"serve_mixed": serve_mixed, "ann_serve": ann_serve}
