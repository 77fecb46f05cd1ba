"""Deterministic synthetic fixtures: transcripts corpus + reference query set
+ brute-force BM25 ground truth.

This is the analog of the reference's bundled evaluation corpus and golden
ground-truth files (/root/reference/siftsmall/siftsmall_query.fvecs,
siftsmall_groundtruth.ivecs, harness jvector-examples/.../SiftSmall.java:385-400):
a fixed, seeded dataset plus an exact oracle that the engine must match
rank-identically.

Schema (BASELINE.json input_hint):
    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string (nullable), ts:timestamp

Text is drawn from a Zipf-distributed vocabulary so hot terms exercise the
skew/salting path; empty and punctuation-only turns exercise tokenizer edge
cases.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from . import BM25_B, BM25_K1

VOCAB_SIZE = 2000
ZIPF_S = 1.07
ROLES = ["user", "assistant", "system", "tool"]
ROLE_P = [0.42, 0.42, 0.06, 0.10]
TOOLS = [None, "bash", "search", "python", "browser"]
TOOL_P = [0.70, 0.10, 0.08, 0.07, 0.05]


def _vocab() -> list[str]:
    return [f"t{i:04d}" for i in range(VOCAB_SIZE)]


def _zipf_p(n: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), ZIPF_S)
    return w / w.sum()


def make_transcripts_pdf(n_turns: int = 5000, seed: int = 42) -> pd.DataFrame:
    """Generate ~n_turns transcript turns as a pandas DataFrame, fully
    deterministic for a given (n_turns, seed)."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocab())
    p = _zipf_p(VOCAB_SIZE)

    rows: list[tuple] = []
    conv = 0
    base_ts = np.datetime64("2025-01-01T00:00:00", "us")
    while len(rows) < n_turns:
        conv_id = f"conv_{conv:08d}"
        n_in_conv = int(rng.integers(8, 65))
        t0 = base_ts + np.timedelta64(int(rng.integers(0, 86_400_000)) * 1000, "us")
        for turn_idx in range(n_in_conv):
            if len(rows) >= n_turns:
                break
            role = ROLES[rng.choice(len(ROLES), p=ROLE_P)]
            tool = TOOLS[rng.choice(len(TOOLS), p=TOOL_P)]
            r = rng.random()
            if r < 0.01:
                text = ""  # empty-turn edge case
            elif r < 0.02:
                text = "!!! ... ???"  # punctuation-only edge case
            else:
                n_tok = int(rng.integers(3, 31))
                toks = vocab[rng.choice(VOCAB_SIZE, size=n_tok, p=p)]
                # sprinkle punctuation/casing so tokenization is exercised
                parts = []
                for j, t in enumerate(toks):
                    if rng.random() < 0.05:
                        t = t.upper()
                    parts.append(t + ("," if rng.random() < 0.08 else ""))
                text = " ".join(parts)
            ts = t0 + np.timedelta64(turn_idx * int(rng.integers(1, 120)), "s")
            rows.append((conv_id, np.int32(turn_idx), role, text, tool, ts))
        conv += 1

    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    return pdf


def make_transcripts_distributed(
    spark, n_turns: int, n_partitions: int = 64, seed: int = 42
):
    """Generate the transcripts corpus *on the executors*: each partition
    seeds its own rng with (seed, partition_id) and emits an equal slice of
    turns with partition-prefixed conv_ids — deterministic for a given
    (n_turns, n_partitions, seed) regardless of core count. This is how the
    10^12-turn corpus would be materialized on a real cluster: no
    driver-side row generation, no collect."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    per_part = -(-n_turns // n_partitions)
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("role", T.StringType(), False),
            T.StructField("text", T.StringType(), False),
            T.StructField("tool", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), False),
        ]
    )

    def gen(it):
        for pdf in it:
            for pid in pdf["id"].tolist():
                n = min(per_part, n_turns - pid * per_part)
                if n <= 0:
                    continue
                out = make_transcripts_pdf(n, seed=seed + pid)
                out["conv_id"] = f"p{pid:05d}_" + out["conv_id"]
                yield out

    return (
        spark.range(n_partitions)
        .repartition(n_partitions, F.col("id"))
        .mapInPandas(gen, schema=schema)
    )


def make_embeddings_pdf(
    n_vecs: int = 512, dim: int = 32, n_clusters: int = 8, seed: int = 314
) -> pd.DataFrame:
    """Deterministic clustered embeddings (vec_id:int64, embedding:list<f64>)
    — the committed-golden analog of the reference's bundled
    siftsmall_base.fvecs: a fixed seeded vector set the persisted PQ/SQ8/BQ
    structures are generated from and re-derived in tests, so the golden
    artifacts never depend on external data. Gaussian clusters give PQ
    codebooks real structure to learn."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, size=(n_clusters, dim))
    assign = rng.integers(0, n_clusters, size=n_vecs)
    vecs = centers[assign] + rng.normal(0.0, 0.25, size=(n_vecs, dim))
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": [row.tolist() for row in vecs],
        }
    )


def make_embeddings(spark, n_vecs: int = 512, dim: int = 32, seed: int = 314):
    """Spark DataFrame of the synthetic embeddings (Arrow path)."""
    return spark.createDataFrame(
        make_embeddings_pdf(n_vecs=n_vecs, dim=dim, seed=seed),
        "vec_id long, embedding array<double>",
    )


def make_query_set(n_queries: int = 100, seed: int = 7) -> pd.DataFrame:
    """Fixed reference query set: (query_id, terms, k).

    Mix of hot terms (low vocab index), rare terms, absent terms and
    duplicate terms — the analog of siftsmall_query.fvecs.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab()
    rows = []
    for qid in range(n_queries):
        n_terms = int(rng.integers(1, 7))
        terms = []
        for _ in range(n_terms):
            r = rng.random()
            if r < 0.30:
                terms.append(vocab[int(rng.integers(0, 20))])  # hot
            elif r < 0.85:
                terms.append(vocab[int(rng.integers(20, VOCAB_SIZE))])
            elif r < 0.95:
                terms.append(vocab[int(rng.integers(VOCAB_SIZE - 50, VOCAB_SIZE))])  # rare
            else:
                terms.append(f"zzabsent{int(rng.integers(0, 5))}")  # absent
        if n_terms >= 3 and rng.random() < 0.2:
            terms[-1] = terms[0]  # duplicate term
        rows.append((np.int32(qid), terms, np.int32(10)))
    return pd.DataFrame(rows, columns=["query_id", "terms", "k"])


# ---------------------------------------------------------------------------
# Exact brute-force oracle (numpy/python, float64) — the ground truth the
# Spark engine must match rank-identically, ties broken by ascending doc_id
# (mirrors jvector's packed (score, ~id) ordering, NodeQueue.java:104-129).
# ---------------------------------------------------------------------------

import re

_TOKEN_SPLIT = re.compile(r"[^a-z0-9]+")


def tokenize_py(text: str) -> list[str]:
    """Reference tokenizer: lowercase, split on non-alphanumeric runs."""
    if text is None:
        return []
    return [t for t in _TOKEN_SPLIT.split(text.lower()) if t]


def bm25_oracle(
    texts: list[str],
    doc_ids: list[int],
    queries: list[list[str]],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> list[list[tuple[int, float]]]:
    """Exact BM25 top-k per query: list of (doc_id, score) sorted by
    (score desc, doc_id asc). Lucene-style idf, no (k1+1) numerator
    (SURVEY.md Q11): score = Σ_t idf(t) · tf / (tf + k1·(1−b+b·dl/avgdl)).

    Duplicate query terms contribute once per occurrence (bag semantics).
    """
    toks = [tokenize_py(t) for t in texts]
    dl = np.array([len(t) for t in toks], dtype=np.float64)
    n_docs = len(toks)
    avgdl = dl.mean() if n_docs else 0.0
    # term -> {doc_index -> tf}
    tf_map: dict[str, dict[int, int]] = {}
    for i, ts in enumerate(toks):
        for t in ts:
            tf_map.setdefault(t, {})
            tf_map[t][i] = tf_map[t].get(i, 0) + 1

    out = []
    for q in queries:
        scores: dict[int, float] = {}
        for t in q:
            postings = tf_map.get(t)
            if not postings:
                continue
            df = len(postings)
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            for i, tf in postings.items():
                denom = tf + k1 * (1.0 - b + b * dl[i] / avgdl)
                scores[i] = scores.get(i, 0.0) + idf * (tf / denom)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], doc_ids[kv[0]]))
        out.append([(doc_ids[i], s) for i, s in ranked[:k]])
    return out
