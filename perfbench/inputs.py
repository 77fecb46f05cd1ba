"""Seeded benchmark inputs, generated on the benchmark's side.

Every table is a pure function of the workload seed, written to parquet with
pyarrow before the Spark session starts, so the engine receives only the
generated tables and both sides of an A/B read byte-identical files (the
run prints their sha256).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jvector_spark.fixtures import (
    make_embeddings_pdf,
    make_query_set,
    make_transcripts_pdf,
)

# serve_mixed: the base corpus, the extend deltas and the delete waves
CORPUS_TURNS = 6000
DELTA_TURNS = 400
MAX_CYCLES = 4
WARM_QUERIES = 4
READ_POOL = 256
# ann_serve: clustered 64-dim vectors and perturbed-row queries
N_VECS = 5000
DIM = 64
N_CLUSTERS = 16
QUERY_NOISE = 0.1


def _sub(seed: int, stream: int) -> int:
    """Independent, reproducible sub-seed per input stream."""
    return int(np.random.SeedSequence([seed, stream]).generate_state(1)[0])


def _write(pdf, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _queries(n: int, seed: int) -> list[tuple[int, list[str]]]:
    return [(int(r.query_id), list(r.terms))
            for r in make_query_set(n, seed).itertuples(index=False)]


def text_inputs(seed: int, workdir: str) -> dict:
    """Base corpus, per-cycle delta corpora (conv ids prefixed so they never
    collide with the base), warm-up batch and the single-query read pool."""
    corpus = make_transcripts_pdf(CORPUS_TURNS, _sub(seed, 1))
    paths = [_write(corpus, os.path.join(workdir, "corpus.parquet"))]
    deltas = []
    for c in range(MAX_CYCLES):
        d = make_transcripts_pdf(DELTA_TURNS, _sub(seed, 100 + c))
        d["conv_id"] = f"d{c:03d}_" + d["conv_id"]
        paths.append(_write(d, os.path.join(workdir, f"delta_{c}.parquet")))
        deltas.append(d)
    return {
        "corpus": corpus,
        "corpus_path": paths[0],
        "deltas": deltas,
        "delta_paths": paths[1:],
        "warm_queries": _queries(WARM_QUERIES, _sub(seed, 2)),
        # a query with no vocabulary term returns early without touching the
        # postings; leaving those out keeps every read on the same path, so
        # the read mix does not change with the seed
        "read_queries": [q for q in _queries(READ_POOL, _sub(seed, 3))
                         if not all(t.startswith("zzabsent") for t in q[1])],
        "delete_seed": _sub(seed, 4),
        "sha256": _digest(paths),
    }


def vector_inputs(seed: int, workdir: str) -> dict:
    """Clustered embeddings plus query vectors: corpus rows perturbed by
    Gaussian noise, so each query has a real neighbourhood."""
    emb = make_embeddings_pdf(N_VECS, DIM, N_CLUSTERS, _sub(seed, 5))
    path = _write(emb, os.path.join(workdir, "embeddings.parquet"))
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    rng = np.random.default_rng(_sub(seed, 6))
    rows = rng.integers(0, N_VECS, size=READ_POOL)
    Q = X[rows] + rng.normal(0.0, QUERY_NOISE, size=(READ_POOL, DIM))
    return {
        "path": path,
        "X": X,
        "ids": emb["vec_id"].to_numpy(),
        "queries": Q,
        "sha256": _digest([path]),
    }
