"""Independent answers the engine's outputs are checked against."""

from __future__ import annotations

import numpy as np
import pandas as pd

from jvector_spark.fixtures import bm25_oracle


def dense_ids(pdf: pd.DataFrame, offset: int = 0) -> np.ndarray:
    """doc ids as the engine's contract defines them: the dense rank of
    (conv_id, turn_idx), shifted by ``offset`` for an extend delta."""
    order = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort").index
    ids = np.empty(len(pdf), dtype=np.int64)
    ids[order.to_numpy()] = np.arange(len(pdf), dtype=np.int64) + offset
    return ids


class LiveCorpusOracle:
    """BM25 over the logical corpus: every document ever indexed (base plus
    extend deltas) scores with whole-corpus statistics, and tombstoned
    documents are dropped from the ranking. That is the engine's documented
    pre-compaction semantics (deletes mask results; stats stay stale)."""

    def __init__(self, corpus: pd.DataFrame):
        self.texts = corpus["text"].tolist()
        self.ids = dense_ids(corpus).tolist()
        self.dead: set[int] = set()

    @property
    def n_docs(self) -> int:
        return len(self.ids)

    def extend(self, delta: pd.DataFrame) -> None:
        self.ids += dense_ids(delta, self.n_docs).tolist()
        self.texts += delta["text"].tolist()

    def delete(self, ids) -> None:
        self.dead |= {int(i) for i in ids}

    def topk(self, queries: list[list[str]], n_docs: int, dead, k: int = 10):
        """Per query, ``[(doc_id, score), ...]`` ranked by (score desc,
        doc_id asc) over the first ``n_docs`` documents indexed, minus
        ``dead``: the corpus as it stood when a read was served."""
        wide = bm25_oracle(self.texts[:n_docs], self.ids[:n_docs], queries,
                           k=k + len(dead))
        return [[(d, s) for d, s in r if d not in dead][:k] for r in wide]


def cosine_topk_np(X: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int = 10):
    """Exact cosine top-k in float64: ``[(id, cos), ...]`` ranked by
    (cos desc, id asc)."""
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    qn = q / max(float(np.linalg.norm(q)), 1e-12)
    cos = Xn @ qn
    order = np.lexsort((ids, -cos))[:k]
    return [(int(ids[i]), float(cos[i])) for i in order]
