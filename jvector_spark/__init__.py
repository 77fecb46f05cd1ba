"""jvector_spark — a from-scratch PySpark-native full-text (inverted-index + BM25)
engine with the capability surface of the JVector reference engine
(/root/reference, surveyed in SURVEY.md), grafted onto the text domain.

Layers
------
- ``session``    : SparkSession builder tuned for the engine.
- ``fixtures``   : deterministic synthetic transcripts + reference query set
                   (the analog of the reference's bundled siftsmall dataset +
                   ground truth, jvector-examples/.../SiftSmall.java).
- ``functions``  : column-expression library (tokenize, BM25 math, text
                   analysis) — all JVM-side ``pyspark.sql.functions``.
- ``operators``  : DataFrame operators (doc-id assignment, tf/df stats,
                   brute-force BM25 top-k oracle path, boolean retrieval,
                   dedup, similarity search).
- ``index``      : the posting-list index — build (salted repartition-by-term,
                   delta+varint blocks, block-max metadata, lineage/resume),
                   storage layout, and the index-backed query path with
                   Block-Max WAND pruning.
- ``streaming``  : incremental indexing via Structured Streaming.

Everything is DataFrame-native; Python only ever runs inside Arrow-batched
pandas UDFs (no per-row Python), and every operator is deterministic with
ties broken by ascending doc_id — mirroring the reference's packed
(score, ~id) long ordering (jvector-base/.../graph/NodeQueue.java:104-129).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
# Postings per block; the analog of the reference's fused per-block layout
# (jvector-base/.../graph/disk/feature/FusedPQ.java:75-122).
BLOCK_SIZE = 128
