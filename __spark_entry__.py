"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator of the engine (SURVEY.md §2.2);
``oracle_sql()`` holds the DuckDB-equivalent SQL the driver compares
against at sf=0.01 (row-count + schema + order-insensitive value-hash).

Determinism engineering for the value-hash compare:
- every computed float is emitted as an integer micro-value
  (``floor(x*1e6 + 0.5)`` both sides) except plain projections of stored
  parquet doubles (bit-identical by construction); large FP sums use cents
  (``*100``) so engine-order FP noise cannot flip a digit;
- all hashes are md5 (identical in Spark and DuckDB);
- every top-k orders by (score desc, id asc) — fully deterministic.

The BM25 entries run against the REAL engine: ``bm25_topk`` builds the
compressed posting index (cached per sf_dir) and answers via Block-Max
WAND; ``bm25_topk_bruteforce`` is the relational slow path — the driver
thereby re-checks fast-path == slow-path == oracle every round.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

# --- fixed query/parameters shared by Spark entries and DuckDB oracles ----
Q_BM25 = [(0, ["hash", "join", "data"]), (1, ["vector"]), (2, ["slow", "merge", "slow"])]
Q_BM25_SQL_VALUES = (
    "(0,'hash',1.0),(0,'join',1.0),(0,'data',1.0),(1,'vector',1.0),"
    "(2,'slow',2.0),(2,'merge',1.0)"
)
BOOL_TERMS = ["vector", "merge"]
PHRASE = ("hash", "join")
PHRASE3 = ("slow", "hash", "batch")  # present ~8× in 5 docs at sf0.01
PROX = ("table", "scan")  # dense vocab words — co-occur in most docs
PROX_SLOP = 4  # unordered NEAR/4
PREFIX = "s"  # expands to scan/slow/small/sort/spark/stream/... (multi-term)
CONV_K = 5  # conversation-level (grouped) top-k per query
THRESH = 0.3  # documents-vocab idf tops scores out near 0.45 — keep rows non-empty
NEARDUP_COS = 0.35  # sf0.01 max pairwise cos ≈ 0.51; 0.35 keeps ~100 pairs
K1, B = 1.2, 0.75
TOKSPLIT = "[^a-z0-9]+"

_INDEX_CACHE: dict[str, str] = {}
_MUTIDX_CACHE: dict[tuple[str, str], str] = {}
DELETE_IDS = [3, 7, 11, 19]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _u6(col):
    return F.floor(col * F.lit(1e6) + F.lit(0.5)).cast("long")


def _cents(col):
    return F.floor(col * F.lit(100.0) + F.lit(0.5)).cast("long")


def _qterms(spark: SparkSession) -> DataFrame:
    from jvector_spark.operators.topk import queries_df

    return queries_df(spark, Q_BM25)


def _index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per process per sf_dir) the posting index over documents."""
    got = _INDEX_CACHE.get(sf_dir)
    if got and os.path.exists(os.path.join(got, "segments")):
        return got
    from jvector_spark.index.build import build_index

    d = tempfile.mkdtemp(prefix="jvidx_entry_")
    # the one build pipeline; its df salt plan fixes the block layout
    # (postings_build's block_meta is a contract row)
    build_index(
        _docs(spark, sf_dir), d, doc_map_cols=["source"],
        salt_threshold=256, target_salt_postings=256, n_parts=4,
    )
    _INDEX_CACHE[sf_dir] = d
    return d


def _positions_index_for(spark: SparkSession, sf_dir: str) -> str:
    """The shared index with the positional feature attached on demand
    (feature-flag presence on disk, the FeatureId analog)."""
    from jvector_spark.index.positions import add_positions, has_positions

    idx = _index_for(spark, sf_dir)
    if not has_positions(idx):
        add_positions(_docs(spark, sf_dir), idx)
    return idx


def _docpart_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Doc-partitioned twin of the shared index (scatter-gather QPS
    layout); built once per process per sf_dir."""
    key = (sf_dir, "dp")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "segments")):
        return got
    from jvector_spark.index.docpart import build_doc_partitioned

    d = tempfile.mkdtemp(prefix="jvidx_dp_")
    build_doc_partitioned(_docs(spark, sf_dir), d, n_buckets=8)
    _MUTIDX_CACHE[key] = d
    return d


def _deleted_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Fresh index over documents with DELETE_IDS tombstoned (never mutates
    the shared _INDEX_CACHE index)."""
    key = (sf_dir, "del")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "segments")):
        return got
    from jvector_spark.index.build import build_index
    from jvector_spark.index.maintenance import delete_docs

    d = tempfile.mkdtemp(prefix="jvidx_del_")
    build_index(_docs(spark, sf_dir), d, n_parts=2)
    delete_docs(spark, d, DELETE_IDS)
    _MUTIDX_CACHE[key] = d
    return d


def _ivf_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Persisted IVF structure (≈√N clusters, codes partitioned by
    cluster) over the embeddings table; built once per process per sf_dir."""
    key = (sf_dir, "ivf")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "manifest")):
        return got
    from jvector_spark.index.vectors import ivf_build

    emb = _read(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    d = tempfile.mkdtemp(prefix="jvidx_ivf_")
    ivf_build(emb, d, n_clusters=None, n_iters=6, seed=77)
    _MUTIDX_CACHE[key] = d
    return d


def _pq_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Persisted PQ structure (codebooks + codes + manifest) over the FULL
    embeddings table; built once per process per sf_dir — serving queries
    then scan the codes table instead of retraining per call (the
    Grid.java:681-719 pq_cache idiom)."""
    key = (sf_dir, "pq")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "manifest")):
        return got
    from jvector_spark.index.vectors import pq_build

    d = tempfile.mkdtemp(prefix="jvidx_pq_")
    pq_build(_read(spark, sf_dir, "embeddings"), d)
    _MUTIDX_CACHE[key] = d
    return d


def _sq8_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Persisted SQ8 structure (per-dim params + codes) over the FULL
    embeddings table; built once per process per sf_dir."""
    key = (sf_dir, "sq8")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "manifest")):
        return got
    from jvector_spark.index.vectors import sq8_build

    d = tempfile.mkdtemp(prefix="jvidx_sq8_")
    sq8_build(_read(spark, sf_dir, "embeddings"), d)
    _MUTIDX_CACHE[key] = d
    return d


def _bq_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Persisted BQ structure (1 bit/dim sign codes) over the FULL
    embeddings table; built once per process per sf_dir."""
    key = (sf_dir, "bq")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "manifest")):
        return got
    from jvector_spark.index.vectors import bq_build

    d = tempfile.mkdtemp(prefix="jvidx_bq_")
    bq_build(_read(spark, sf_dir, "embeddings"), d)
    _MUTIDX_CACHE[key] = d
    return d


def _nvq_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Persisted NVQ structure (per-vector nonuniform 8-bit codes +
    inline params) over the FULL embeddings table; built once per process
    per sf_dir — NVQ has no trained corpus state at all
    (NVQuantization.java:524-573 fits each vector's own warp)."""
    key = (sf_dir, "nvq")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "manifest")):
        return got
    from jvector_spark.index.vectors import nvq_build

    d = tempfile.mkdtemp(prefix="jvidx_nvq_")
    nvq_build(_read(spark, sf_dir, "embeddings"), d)
    _MUTIDX_CACHE[key] = d
    return d


def _vec0_deleted(spark: SparkSession) -> DataFrame:
    """vec_id 0 is the query vector of the single-query ANN entries — the
    persisted structures cover the FULL table, so the entries mask it via
    the M1 tombstone plumbing instead of re-encoding a filtered corpus."""
    from jvector_spark.index.storage import local_relation

    return local_relation(spark, [(0,)], "vec_id long")


def _extended_index_for(spark: SparkSession, sf_dir: str) -> str:
    """Index built over the first half of documents then incrementally
    extended with the second half (doc_ids are dense 0..N-1 in the fixture
    tables, so caller-provided ids satisfy extend's >= n_old contract).
    Post-extension stats equal a full build, so the full-corpus oracle
    applies."""
    key = (sf_dir, "ext")
    got = _MUTIDX_CACHE.get(key)
    if got and os.path.exists(os.path.join(got, "segments")):
        return got
    from jvector_spark.index.build import build_index
    from jvector_spark.index.extend import extend_index

    docs = _docs(spark, sf_dir)
    half = docs.count() // 2
    d = tempfile.mkdtemp(prefix="jvidx_ext_")
    build_index(docs.filter(F.col("doc_id") < half), d, n_parts=2)
    extend_index(docs.filter(F.col("doc_id") >= half), d)
    _MUTIDX_CACHE[key] = d
    return d


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and answer
    the fixed BM25 query set via Block-Max WAND."""
    from jvector_spark.index.query import bm25_topk_indexed

    sf_dir = "/root/testdata/sf0.001"
    idx = _index_for(spark, sf_dir)
    return bm25_topk_indexed(spark, idx, _qterms(spark), k=10, prune=True)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

# brute-force twins kept out of the driver contract (their oracle would
# duplicate the indexed sibling's row); still built + plan-audited via
# ``audit_queries`` and brute≡indexed is pytest-enforced
# (test_phrase_count_indexed_equals_bruteforce covers phrase_count).
# scan_filter/hash_join/sort_limit are relational warm-ups demoted to audit
# in round 4 to free checked slots for REAL query operators
# (proximity_count / prefix_topk / conv_topk); group_agg, window_rank and
# events_window_agg stay checked as the relational coverage.
_AUDIT_ONLY = frozenset(
    {
        "tfidf_topk", "boolean_and", "boolean_or", "filter_topk",
        "phrase_count3", "phrase_count",
        "scan_filter", "hash_join", "sort_limit",
        # exact batch scan: the brute twin of the compressed batch tiers —
        # ann_topk_sq8_batch AND ann_topk_bq_batch both hash against the
        # same exact-batch SQL oracle, so the exact path's semantics stay
        # driver-checked through them; cosine_topk_batch itself remains
        # pytest- and plan-audit-covered (r5: slot freed for the BQ batch)
        "ann_topk_batch",
        # NVQ batch twin — pytest batch ≡ per-query + plan audit; the
        # single-query ann_topk_nvq row carries the tier's hash contract
        "ann_topk_nvq_batch",
        # relational warm-up demoted in r5 (same move as scan_filter etc.
        # in r4) to admit the NVQ tier — a REAL reference-parity operator
        # (C6, NVQuantization.java); window semantics stay driver-checked
        # through events_window_agg and every rank-producing query row
        "window_rank",
    }
)


def _build_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from jvector_spark.functions.analysis import (
        fingerprint_col,
        lang_id_col,
        quality_cols,
        token_count_col,
        tokens_col,
    )
    from jvector_spark.index.query import (
        bm25_topk_indexed,
        decode_postings,
        threshold_search_indexed,
    )
    from jvector_spark.index.storage import read_table
    from jvector_spark.operators import (
        assign_dense_ids,
        boolean_and,
        boolean_or,
        dictionary,
        doc_stats,
        term_freq,
    )
    from jvector_spark.operators.dedup import (
        exact_dedup,
        jaccard_pairs,
        minhash_near_dups,
        minhash_signatures,
        simhash,
    )
    from jvector_spark.operators.phrase import phrase_count, token_positions
    from jvector_spark.operators.similarity import cosine_topk
    from jvector_spark.operators.topk import bm25_score_all, bm25_topk_bruteforce

    def q_doc_ids(spark, sf):
        return assign_dense_ids(_docs(spark, sf), ["source", "doc_id"], "new_id").select(
            "doc_id", "new_id"
        )

    def q_tokenize(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", F.explode(tokens_col("text")).alias("term")
        )

    def q_term_freq(spark, sf):
        return term_freq(_docs(spark, sf))

    def q_doc_stats(spark, sf):
        return doc_stats(_docs(spark, sf))

    def q_dictionary(spark, sf):
        return dictionary(term_freq(_docs(spark, sf))).select("term", "term_id", "df", "cf")

    def q_bm25_score(spark, sf):
        s = bm25_score_all(_docs(spark, sf), _qterms(spark))
        return s.select("query_id", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_bm25_topk(spark, sf):
        idx = _index_for(spark, sf)
        t = bm25_topk_indexed(spark, idx, _qterms(spark), k=10, prune=True)
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_proximity_count(spark, sf):
        # unordered NEAR/slop from the positional feature (searchsorted
        # window-count kernel) — the slop generalization of the phrase
        # entries; brute≡indexed is pytest-enforced at several slops
        from jvector_spark.index.positions import proximity_count_indexed

        idx = _positions_index_for(spark, sf)
        return proximity_count_indexed(spark, idx, *PROX, slop=PROX_SLOP)

    def q_prefix_topk(spark, sf):
        # wildcard `s*`: dictionary range-scan expansion → ONE multi-term
        # WAND batch, weight 1 per expansion (MultiTermQuery BM25-sum
        # rewrite); only the expanded terms' posting blocks are read
        from jvector_spark.index.query import bm25_topk_prefix

        t = bm25_topk_prefix(spark, _index_for(spark, sf), PREFIX, k=10)
        return t.select("rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_conv_topk(spark, sf):
        # conversation-level (grouped) ranking: turn scores from the index,
        # group score = best turn (max-agg, the best-passage rule), doc_id →
        # group through the index's doc_map table (source = conv analog on
        # the documents fixture)
        from jvector_spark.operators.conversation import conv_topk_indexed

        t = conv_topk_indexed(
            spark, _index_for(spark, sf), _qterms(spark), k=CONV_K,
            group_col="source",
        )
        return t.select(
            "query_id", "rank", "source", _u6(F.col("score")).alias("score_u6")
        )

    def q_bm25_topk_docpart(spark, sf):
        # scatter-gather engine over the doc-partitioned layout (Q10 merge
        # shape) — must hash-match the same oracle as bm25_topk
        from jvector_spark.index.docpart import bm25_topk_docpart

        idx = _docpart_index_for(spark, sf)
        t = bm25_topk_docpart(spark, idx, _qterms(spark), k=10, prune=True)
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_bm25_topk_bruteforce(spark, sf):
        t = bm25_topk_bruteforce(_docs(spark, sf), _qterms(spark), k=10)
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_tfidf_topk(spark, sf):
        from jvector_spark.operators.topk import tfidf_topk_bruteforce

        t = tfidf_topk_bruteforce(_docs(spark, sf), _qterms(spark), k=10)
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_tfidf_topk_indexed(spark, sf):
        # same fused posting blocks, second exact scoring kernel (Q11) —
        # must hash-match the brute-force tfidf oracle
        from jvector_spark.index.query import tfidf_topk_indexed

        idx = _index_for(spark, sf)
        t = tfidf_topk_indexed(spark, idx, _qterms(spark), k=10)
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_postings_decode(spark, sf):
        idx = _index_for(spark, sf)
        return decode_postings(spark, idx).select("term_id", "doc_id", "tf")

    def q_boolean_and(spark, sf):
        return boolean_and(_docs(spark, sf), BOOL_TERMS)

    def q_boolean_or(spark, sf):
        return boolean_or(_docs(spark, sf), BOOL_TERMS)

    def q_boolean_and_indexed(spark, sf):
        from jvector_spark.operators.boolean import boolean_and_indexed

        return boolean_and_indexed(spark, _index_for(spark, sf), BOOL_TERMS)

    def q_boolean_or_indexed(spark, sf):
        from jvector_spark.operators.boolean import boolean_or_indexed

        return boolean_or_indexed(spark, _index_for(spark, sf), BOOL_TERMS)

    def q_filter_topk(spark, sf):
        docs = _docs(spark, sf)
        s = bm25_score_all(docs, _qterms(spark))
        s = s.join(docs.filter(F.col("lang") == "en").select("doc_id"), "doc_id")
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            s.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 10)
            .select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))
        )

    def q_filter_topk_indexed(spark, sf):
        # Bits-acceptOrds analog pushed into the index path (Q8): the accept
        # set (lang='en') ships into the WAND kernel as a sorted id mask
        from jvector_spark.index.query import bm25_topk_indexed_filtered

        idx = _index_for(spark, sf)
        accept = _docs(spark, sf).filter(F.col("lang") == "en").select("doc_id")
        t = bm25_topk_indexed_filtered(spark, idx, _qterms(spark), accept, k=10)
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_threshold_search(spark, sf):
        idx = _index_for(spark, sf)
        t = threshold_search_indexed(spark, idx, _qterms(spark), THRESH)
        return t.select("query_id", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_phrase_count(spark, sf):
        return phrase_count(_docs(spark, sf), *PHRASE)

    def q_phrase_count_indexed(spark, sf):
        from jvector_spark.index.positions import phrase_count_indexed

        idx = _positions_index_for(spark, sf)
        return phrase_count_indexed(spark, idx, *PHRASE)

    def q_phrase_count3(spark, sf):
        # n-term arity of the brute-force path (matches the indexed path's)
        return phrase_count(_docs(spark, sf), *PHRASE3)

    def q_phrase_count3_indexed(spark, sf):
        from jvector_spark.index.positions import phrase_count_indexed

        idx = _positions_index_for(spark, sf)
        return phrase_count_indexed(spark, idx, *PHRASE3)

    def q_token_positions(spark, sf):
        return token_positions(_docs(spark, sf))

    def q_exact_dedup(spark, sf):
        return exact_dedup(_docs(spark, sf))

    def q_minhash_signatures(spark, sf):
        return minhash_signatures(_docs(spark, sf))

    def q_minhash_near_dups(spark, sf):
        p = minhash_near_dups(_docs(spark, sf), threshold=0.5)
        return p.select("a", "b", _u6(F.col("jaccard")).alias("jaccard_u6"))

    def q_jaccard_pairs(spark, sf):
        # cap applied explicitly by the caller (the operator's default is
        # uncapped TRUE Jaccard); the oracle's _SHC CTE mirrors this cap
        p = jaccard_pairs(_docs(spark, sf), threshold=0.5, max_shingle_df=256)
        return p.select("a", "b", _u6(F.col("jaccard")).alias("jaccard_u6"))

    def q_dedup_groups(spark, sf):
        # connected components over the LSH-verified near-dup pairs: the
        # "keep one representative per duplicate cluster" step (iterative
        # min-label propagation vs the oracle's recursive CTE)
        from jvector_spark.operators.dedup import dedup_components

        p = minhash_near_dups(_docs(spark, sf), threshold=0.5)
        return dedup_components(p)

    def q_simhash(spark, sf):
        return simhash(_docs(spark, sf), bits=16)

    def q_lang_id(spark, sf):
        return _docs(spark, sf).select("doc_id", lang_id_col("text").alias("lang_pred"))

    def q_quality_score(spark, sf):
        qc = quality_cols("text")
        return _docs(spark, sf).select(
            "doc_id",
            qc["n_chars"].alias("n_chars2"),
            qc["n_tokens"].alias("n_tokens"),
            _u6(qc["alpha_ratio"]).alias("alpha_ratio_u6"),
            _u6(qc["punct_ratio"]).alias("punct_ratio_u6"),
            _u6(qc["mean_token_len"]).alias("mean_token_len_u6"),
        )

    def q_token_count(spark, sf):
        return _docs(spark, sf).select(
            "doc_id", token_count_col("text").cast("long").alias("n_tokens")
        )

    def q_doc_fingerprint(spark, sf):
        return (
            _docs(spark, sf)
            .select("doc_id", fingerprint_col("text").alias("fingerprint"))
            .filter(F.col("fingerprint").isNotNull())
        )

    def q_delete_search(spark, sf):
        # M1 semantics: tombstoned docs masked from top-k, global stats stay
        # stale until compaction (oracle scores the FULL corpus, then drops
        # the deleted ids before ranking)
        t = bm25_topk_indexed(
            spark, _deleted_index_for(spark, sf), _qterms(spark), k=10, prune=True
        )
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_extend_search(spark, sf):
        # B10 semantics: half-build + incremental extend ≡ full build
        t = bm25_topk_indexed(
            spark, _extended_index_for(spark, sf), _qterms(spark), k=10, prune=True
        )
        return t.select("query_id", "rank", "doc_id", _u6(F.col("score")).alias("score_u6"))

    def q_postings_build(spark, sf):
        # block-max metadata of the built index (rows-only check: packed
        # binary payloads are not SQL-expressible; their exact round-trip is
        # postings_decode's oracle + the codec property tests)
        from jvector_spark.index.storage import block_meta

        idx = _index_for(spark, sf)
        return block_meta(spark, idx).select(
            "term_id", "salt", "block_id", "n", "base", "max_doc_id", "max_tf"
        )

    def q_media_meta(spark, sf):
        from jvector_spark.operators.multimodal import media_meta

        d = _docs(spark, sf).select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        )
        return media_meta(d)

    def q_media_features(spark, sf):
        # stub-decoded feature extraction over binary payloads, emitted as
        # the integer-exact features (len/min/max/first/last/checksum are
        # exact in float32 below 2^24, so the casts are lossless) — these
        # have a real DuckDB byte-statistics oracle. mean/std (float32
        # rounding) stay pytest-enforced instead of SQL-compared.
        from jvector_spark.operators.multimodal import decode_image_features

        d = _docs(spark, sf).select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        )
        f = decode_image_features(d)
        feat = F.col("features")
        return f.select(
            "doc_id",
            feat[0].cast("long").alias("n_bytes"),
            feat[3].cast("long").alias("b_min"),
            feat[4].cast("long").alias("b_max"),
            feat[5].cast("long").alias("b_first"),
            feat[6].cast("long").alias("b_last"),
            feat[7].cast("long").alias("b_cksum"),
        )

    def q_frame_sample(spark, sf):
        # fixed-width frame sampling over binary payloads (stubbed keyframe
        # seek, real row-multiplicity/schema/batching) — frames emitted as
        # (idx, byte length, hex-digest) so the check is hash-exact
        from jvector_spark.operators.multimodal import frame_sample

        d = _docs(spark, sf).select(
            "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
        )
        f = frame_sample(d, every_n_bytes=256)
        return f.select(
            "doc_id",
            "frame_idx",
            F.length("frame_bytes").cast("long").alias("n_bytes"),
            F.md5(F.hex(F.col("frame_bytes"))).alias("frame_md5"),
        )

    def q_embedding_near_dups(spark, sf):
        from jvector_spark.operators.similarity import embedding_near_dups

        emb = _read(spark, sf, "embeddings")
        p = embedding_near_dups(emb, threshold=NEARDUP_COS)
        return p.select("a", "b", _u6(F.col("cos")).alias("cos_u6"))

    def q_embedding_near_dups_lsh(spark, sf):
        from jvector_spark.operators.similarity import embedding_near_dups_lsh

        emb = _read(spark, sf, "embeddings")
        p = embedding_near_dups_lsh(emb, threshold=NEARDUP_COS)
        return p.select("a", "b", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk(spark, sf):
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        t = cosine_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10)
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_lsh(spark, sf):
        from jvector_spark.operators.similarity import cosine_topk_lsh

        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        t = cosine_topk_lsh(emb.filter(F.col("vec_id") != 0), list(qv), k=10)
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_ivf(spark, sf):
        # IVF probe path against the PERSISTED index (codes hive-
        # partitioned by cluster → probes prune directories): rows-only
        # check — approximate by construction; full-probe == exact and
        # recall floors are pytest-enforced (tests/test_ivf.py).
        # Probe-ADAPTIVE operating point: clusters are probed until their
        # assignment mass covers ≥0.9 of the corpus, the honest recall
        # floor on ANY data (on near-uniform fixtures recall ≈ scan
        # fraction — information-theoretic); recall ≥0.9 at exactly this
        # operating point is pytest-enforced on this fixture.
        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        base = emb.filter(F.col("vec_id") != 0)
        idx = _ivf_index_for(spark, sf)
        from jvector_spark.index.vectors import ivf_topk_indexed

        t = ivf_topk_indexed(
            spark, idx, base, list(qv), k=10, n_probe=None, target_recall=0.9
        )
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_sq8(spark, sf):
        # two-phase SQ8 compressed scan + exact rerank — must be IDENTICAL
        # to the exact scan (same oracle as ann_topk): the fast-vs-slow
        # equivalence idiom (TestCompressedVectors.java:231) as a hash-green
        # contract row. Scans the PERSISTED structure (params + codes built
        # once per sf_dir) — no per-call train/encode; vec_id 0 (the query)
        # is masked via the M1 tombstone plumbing.
        from jvector_spark.index.vectors import sq8_load
        from jvector_spark.operators.similarity import ann_topk_sq8

        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        params, codes = sq8_load(spark, _sq8_index_for(spark, sf))
        t = ann_topk_sq8(
            emb.filter(F.col("vec_id") != 0), list(qv), k=10,
            codes=codes, params=params, deleted=_vec0_deleted(spark),
        )
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_pq(spark, sf):
        # two-phase PQ compressed scan (m = dim/8 → 32× compression, the
        # reference's README.md:166-170 headline) + exact rerank — must be
        # IDENTICAL to the exact scan (same oracle as ann_topk): ADC
        # table-lookup scoring grafted from PQVectors.java:208-279. Scans
        # the PERSISTED structure (Grid.java:681-719 pq_cache idiom) — the
        # plan shows a codes-table scan, never a retrain.
        from jvector_spark.index.vectors import pq_load
        from jvector_spark.operators.pq import ann_topk_pq

        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        books, codes = pq_load(spark, _pq_index_for(spark, sf))
        t = ann_topk_pq(
            emb.filter(F.col("vec_id") != 0), list(qv), k=10,
            codes=codes, codebooks=books, deleted=_vec0_deleted(spark),
        )
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_bq(spark, sf):
        # 1-bit Binary Quantization tier (BinaryQuantization.java:88-110 /
        # BQVectors.java:95-118): Hamming first pass over the persisted
        # sign-bit codes (32× fewer scan bytes) + exact rerank — same
        # exact-scan oracle as ann_topk (rank-identical with the BQ margin)
        from jvector_spark.index.vectors import bq_load
        from jvector_spark.operators.bq import ann_topk_bq

        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        _, codes = bq_load(spark, _bq_index_for(spark, sf))
        t = ann_topk_bq(
            emb.filter(F.col("vec_id") != 0), list(qv), k=10,
            codes=codes, deleted=_vec0_deleted(spark),
        )
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_nvq(spark, sf):
        # per-vector NonUniform Vector Quantization tier — the reference's
        # compressed RERANK tier (NVQuantization.java:487-638: per-vector
        # min/max + learned logistic warp, NVQScorer.java scores off the
        # codes): nonuniform 1 B/dim first pass over the persisted codes +
        # exact rerank — same exact-scan oracle as ann_topk
        from jvector_spark.index.vectors import nvq_load
        from jvector_spark.operators.nvq import ann_topk_nvq

        emb = _read(spark, sf, "embeddings")
        qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        bits, codes = nvq_load(spark, _nvq_index_for(spark, sf))
        t = ann_topk_nvq(
            emb.filter(F.col("vec_id") != 0), list(qv), k=10,
            codes=codes, bits=bits, deleted=_vec0_deleted(spark),
        )
        return t.select("rank", "vec_id", _u6(F.col("cos")).alias("cos_u6"))

    def q_ann_topk_batch(spark, sf):
        # batched ANN: top-10 for FIVE query vectors in one corpus scan
        # (per-batch top-10 per query, merged on the driver) — the
        # multi-query analog of the reference's parallel query stream
        # (ThroughputBenchmark.java:188-236). Self-match ranks first by
        # construction (cos 1.0) and the oracle mirrors that.
        from jvector_spark.operators.similarity import cosine_topk_batch

        emb = _read(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        t = cosine_topk_batch(emb, qs, k=10)
        return t.select(
            "query_id", "rank", "vec_id", _u6(F.col("cos")).alias("cos_u6")
        )

    def q_ann_topk_sq8_batch(spark, sf):
        # batch two-phase serving: ONE SQ8 compressed scan scores all five
        # queries + exact rerank of per-query candidates — must be
        # rank-identical to the exact batch scan (same oracle as
        # ann_topk_batch; the fast-vs-slow equivalence idiom,
        # TestCompressedVectors.java:231). Codes come from the persisted
        # structure (one build per sf_dir, one scan per batch).
        from jvector_spark.index.vectors import sq8_load
        from jvector_spark.operators.similarity import ann_topk_sq8_batch

        emb = _read(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        params, codes = sq8_load(spark, _sq8_index_for(spark, sf))
        t = ann_topk_sq8_batch(emb, qs, k=10, codes=codes, params=params)
        return t.select(
            "query_id", "rank", "vec_id", _u6(F.col("cos")).alias("cos_u6")
        )

    def q_ann_topk_bq_batch(spark, sf):
        # batch serving of the cheapest tier: ONE Hamming scan (agreement
        # GEMM over the 1-bit sign codes, 32× fewer scan bytes) scores all
        # five queries + exact rerank — must be rank-identical to the exact
        # batch scan (same oracle as ann_topk_sq8_batch; the reference
        # drives its compressed tiers under the same parallel query stream,
        # ThroughputBenchmark.java:188-236). Codes come from the persisted
        # structure (one build per sf_dir, one scan per batch).
        from jvector_spark.index.vectors import bq_load
        from jvector_spark.operators.bq import ann_topk_bq_batch

        emb = _read(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        _, codes = bq_load(spark, _bq_index_for(spark, sf))
        t = ann_topk_bq_batch(emb, qs, k=10, codes=codes)
        return t.select(
            "query_id", "rank", "vec_id", _u6(F.col("cos")).alias("cos_u6")
        )

    def q_ann_topk_nvq_batch(spark, sf):
        # audit-only twin (contract slots are full at 50): ONE NVQ codes
        # scan serving all five queries + exact rerank — pytest-enforced
        # ≡ per-query, plan-audited here; shares the exact-batch oracle
        # shape with the sq8/bq batch rows
        from jvector_spark.index.vectors import nvq_load
        from jvector_spark.operators.nvq import ann_topk_nvq_batch

        emb = _read(spark, sf, "embeddings")
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
        )
        bits, codes = nvq_load(spark, _nvq_index_for(spark, sf))
        t = ann_topk_nvq_batch(emb, qs, k=10, codes=codes, bits=bits)
        return t.select(
            "query_id", "rank", "vec_id", _u6(F.col("cos")).alias("cos_u6")
        )

    def q_scan_filter(spark, sf):
        li = _read(spark, sf, "lineitem")
        return li.filter(
            (F.col("l_shipdate") < "1996-01-01") & (F.col("l_discount") > 0.05)
        ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")

    def q_group_agg(spark, sf):
        li = _read(spark, sf, "lineitem")
        return (
            li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                _cents(F.sum("l_quantity")).alias("sum_qty_c"),
                _cents(F.sum("l_extendedprice")).alias("sum_base_c"),
                _cents(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                    "sum_disc_c"
                ),
                F.count("*").alias("count_order"),
            )
        )

    def q_hash_join(spark, sf):
        o = _read(spark, sf, "orders")
        c = _read(spark, sf, "customer")
        return (
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                _cents(F.sum("o_totalprice")).alias("total_c"),
            )
        )

    def q_window_rank(spark, sf):
        o = _read(spark, sf, "orders")
        w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        return (
            o.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
        )

    def q_sort_limit(spark, sf):
        li = _read(spark, sf, "lineitem")
        return (
            li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
            .limit(20)
            .select("l_orderkey", "l_linenumber", "l_extendedprice")
        )

    def q_events_window_agg(spark, sf):
        ev = _read(spark, sf, "events")
        return (
            ev.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
            ).agg(F.count("*").alias("n"), _cents(F.sum("value")).alias("value_c"))
        )

    # CONTRACT SIZE POLICY: the driver's correctness pass checks at most 50
    # entries — the registry stays ≤50 BY CONSTRUCTION (asserted below) so
    # every registered operator gets oracle-checked every round. Brute-force
    # twins whose oracle duplicates their indexed sibling's
    # (boolean_and/or, filter_topk, tfidf_topk, phrase_count3) are audit
    # entries instead (``audit_queries``), with brute≡indexed equivalence
    # pytest-enforced (tests/test_index.py, tests/test_positions.py).
    return {
        "doc_ids": q_doc_ids,
        "tokenize": q_tokenize,
        "term_freq": q_term_freq,
        "doc_stats": q_doc_stats,
        "dictionary": q_dictionary,
        "bm25_score": q_bm25_score,
        "bm25_topk": q_bm25_topk,
        "bm25_topk_docpart": q_bm25_topk_docpart,
        "bm25_topk_bruteforce": q_bm25_topk_bruteforce,
        "tfidf_topk": q_tfidf_topk,
        "tfidf_topk_indexed": q_tfidf_topk_indexed,
        "postings_decode": q_postings_decode,
        "boolean_and": q_boolean_and,
        "boolean_or": q_boolean_or,
        "boolean_and_indexed": q_boolean_and_indexed,
        "boolean_or_indexed": q_boolean_or_indexed,
        "filter_topk": q_filter_topk,
        "filter_topk_indexed": q_filter_topk_indexed,
        "threshold_search": q_threshold_search,
        "phrase_count": q_phrase_count,
        "phrase_count_indexed": q_phrase_count_indexed,
        "phrase_count3": q_phrase_count3,
        "phrase_count3_indexed": q_phrase_count3_indexed,
        "proximity_count": q_proximity_count,
        "prefix_topk": q_prefix_topk,
        "conv_topk": q_conv_topk,
        "token_positions": q_token_positions,
        "exact_dedup": q_exact_dedup,
        "minhash_signatures": q_minhash_signatures,
        "minhash_near_dups": q_minhash_near_dups,
        "jaccard_pairs": q_jaccard_pairs,
        "dedup_groups": q_dedup_groups,
        "simhash": q_simhash,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_count": q_token_count,
        "doc_fingerprint": q_doc_fingerprint,
        "delete_search": q_delete_search,
        "extend_search": q_extend_search,
        "postings_build": q_postings_build,
        "media_meta": q_media_meta,
        "media_features": q_media_features,
        "frame_sample": q_frame_sample,
        "embedding_near_dups": q_embedding_near_dups,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "ann_topk": q_ann_topk,
        "ann_topk_lsh": q_ann_topk_lsh,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_topk_sq8": q_ann_topk_sq8,
        "ann_topk_pq": q_ann_topk_pq,
        "ann_topk_bq": q_ann_topk_bq,
        "ann_topk_nvq": q_ann_topk_nvq,
        "ann_topk_batch": q_ann_topk_batch,
        "ann_topk_sq8_batch": q_ann_topk_sq8_batch,
        "ann_topk_bq_batch": q_ann_topk_bq_batch,
        "ann_topk_nvq_batch": q_ann_topk_nvq_batch,
        "scan_filter": q_scan_filter,
        "group_agg": q_group_agg,
        "hash_join": q_hash_join,
        "window_rank": q_window_rank,
        "sort_limit": q_sort_limit,
        "events_window_agg": q_events_window_agg,
    }


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out = {k: v for k, v in _build_queries().items() if k not in _AUDIT_ONLY}
    assert len(out) <= 50, f"driver checks only 50 entries; {len(out)} registered"
    return out


def audit_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract entries PLUS the audit-only brute-force twins — used by the
    plan-audit tests so trimming the driver contract to ≤50 never drops a
    code path from the no-row-Python/pushdown audits."""
    return _build_queries()


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# shared SQL fragments
_TOKS = (
    "toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), "
    f"'{TOKSPLIT}'), x -> x <> '') AS l FROM documents)"
)
_TOK = (
    "tok AS (SELECT doc_id, unnest(l) AS term FROM toks)"
)
_TF = "tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term)"
_DL = "dl AS (SELECT doc_id, len(l)::BIGINT AS dl FROM toks)"
_STATS = "stats AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl)"
_DFREQ = "dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term)"
_QT = f"qt(query_id, term, weight) AS (VALUES {Q_BM25_SQL_VALUES})"
_SCORES = (
    "scores AS (SELECT qt.query_id, tf.doc_id, "
    "sum(qt.weight * ln(1.0 + (stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) "
    f"* tf.tf / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.dl / stats.avgdl))) AS score "
    "FROM tf JOIN qt USING (term) JOIN dfreq USING (term) "
    "JOIN dl USING (doc_id) CROSS JOIN stats GROUP BY qt.query_id, tf.doc_id)"
)
_BM25_CTE = f"WITH {_TOKS}, {_TOK}, {_TF}, {_DL}, {_STATS}, {_DFREQ}, {_QT}, {_SCORES}"

_SHINGLES = (
    "sh AS (SELECT DISTINCT doc_id, unnest(CASE WHEN len(l) >= 3 THEN "
    "list_transform(range(1, len(l) - 1), i -> array_to_string(list_slice(l, i, i + 2), ' ')) "
    "ELSE [] END) AS shingle FROM toks)"
)
_SEEDS = "seeds AS (SELECT unnest(range(0, 8)) AS seed)"
_SIGS = (
    "sigs AS (SELECT doc_id, seed, min(md5(concat(seed, ':', shingle))) AS minhash "
    "FROM sh CROSS JOIN seeds GROUP BY doc_id, seed)"
)
_BANDS = (
    "bands AS (SELECT doc_id, (seed // 2)::INT AS band_id, "
    "md5(array_to_string(list_sort(list(concat(seed, ':', minhash))), '|')) AS band_key "
    "FROM sigs GROUP BY doc_id, (seed // 2)::INT)"
)
_CAND = (
    "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x "
    "JOIN bands y ON x.band_id = y.band_id AND x.band_key = y.band_key "
    "AND x.doc_id < y.doc_id)"
)
# hot-shingle cap mirrored from operators.dedup.DEFAULT_MAX_SHINGLE_DF
# (never binds at test scale — max shingle df is 7 at sf0.01 / 25 at sf0.1 —
# but keeps the oracle semantics identical to the engine's)
_MAXDF = 256
_SHC = (
    "shc AS (SELECT sh.* FROM sh JOIN (SELECT shingle FROM sh GROUP BY shingle "
    f"HAVING count(*) <= {_MAXDF}) ok USING (shingle))"
)
_SIZES = "sizes AS (SELECT doc_id, count(*)::DOUBLE AS sz FROM shc GROUP BY doc_id)"
_INTER = (
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*)::DOUBLE AS i FROM shc x "
    "JOIN shc y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id)"
)
_JAC = (
    "jac AS (SELECT a, b, i / (sa.sz + sb.sz - i) AS jaccard FROM inter "
    "JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)"
)

_QUALITY = f"""
WITH {_TOKS}
SELECT d.doc_id,
       length(d.text)::BIGINT AS n_chars2,
       len(t.l)::BIGINT AS n_tokens,
       CAST(floor(length(regexp_replace(d.text, '[^A-Za-z]', '', 'g'))
            / (CASE WHEN length(d.text) > 0 THEN length(d.text) ELSE 1 END)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS alpha_ratio_u6,
       CAST(floor(length(regexp_replace(d.text, '[A-Za-z0-9 ]', '', 'g'))
            / (CASE WHEN length(d.text) > 0 THEN length(d.text) ELSE 1 END)::DOUBLE * 1e6 + 0.5) AS BIGINT) AS punct_ratio_u6,
       CAST(floor(CASE WHEN len(t.l) > 0 THEN
            list_sum(list_transform(t.l, x -> length(x)))::DOUBLE / len(t.l) ELSE 0.0 END * 1e6 + 0.5) AS BIGINT) AS mean_token_len_u6
FROM documents d JOIN toks t USING (doc_id)
"""

_EN = "'the','and','of','to','in','is','that','it','for','was'"
_DE = "'der','die','das','und','ist','nicht','ein','mit','den','von'"
_FR = "'le','la','les','et','de','un','une','est','que','pour'"
_ES = "'el','la','los','las','y','de','que','es','un','una'"

_LANG = f"""
WITH {_TOKS},
hits AS (SELECT doc_id,
    len(list_filter(l, x -> x IN ({_EN})))::BIGINT AS en,
    len(list_filter(l, x -> x IN ({_DE})))::BIGINT AS de,
    len(list_filter(l, x -> x IN ({_FR})))::BIGINT AS fr,
    len(list_filter(l, x -> x IN ({_ES})))::BIGINT AS es
  FROM toks)
SELECT doc_id, CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
    WHEN en = greatest(en, de, fr, es) THEN 'en'
    WHEN de = greatest(en, de, fr, es) THEN 'de'
    WHEN fr = greatest(en, de, fr, es) THEN 'fr'
    ELSE 'es' END AS lang_pred
FROM hits
"""


_U6 = lambda x: f"CAST(floor({x} * 1e6 + 0.5) AS BIGINT)"  # noqa: E731

_ANN_TOPK_SQL = (
    "WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0), "
    "s AS (SELECT e.vec_id, "
    "list_sum(list_transform(list_zip(e.embedding, q.qv), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos "
    "FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0) "
    "SELECT row_number() OVER (ORDER BY cos DESC, vec_id)::INT AS rank, vec_id, "
    + _U6("cos")
    + " AS cos_u6 FROM s QUALIFY rank <= 10"
)


_ANN_TOPK_BATCH_SQL = (
    "WITH q AS (SELECT vec_id AS query_id, embedding AS qv "
    "FROM embeddings WHERE vec_id < 5), "
    "s AS (SELECT q.query_id, e.vec_id, "
    "list_sum(list_transform(list_zip(e.embedding, q.qv), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(e.embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(q.qv, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos "
    "FROM embeddings e CROSS JOIN q) "
    "SELECT query_id, row_number() OVER "
    "(PARTITION BY query_id ORDER BY cos DESC, vec_id)::INT AS rank, "
    "vec_id, " + _U6("cos") + " AS cos_u6 FROM s QUALIFY rank <= 10"
)


def _phrase_sql(terms: tuple[str, ...]) -> str:
    """n-term adjacency phrase count over the tokenized positional relation
    (the DuckDB twin of operators.phrase.phrase_count at any arity)."""
    joins = " ".join(
        f"JOIN p t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.pos = t0.pos + {i}"
        for i in range(1, len(terms))
    )
    conds = " AND ".join(f"t{i}.term = '{t}'" for i, t in enumerate(terms))
    return (
        f"WITH {_TOKS}, "
        "pos AS (SELECT doc_id, unnest(list_zip(l, range(1, len(l) + 1))) AS z FROM toks), "
        "p AS (SELECT doc_id, z[1] AS term, z[2]::BIGINT AS pos FROM pos) "
        f"SELECT t0.doc_id, count(*)::BIGINT AS n_phrase FROM p t0 {joins} "
        f"WHERE {conds} GROUP BY t0.doc_id"
    )


_MEDIA_FEATURES_SQL = (
    # byte statistics of the UTF-8 payload via the hex dump (exact integers;
    # matches the float32-exact features emitted by decode_image_features)
    "WITH b AS (SELECT doc_id, hex(encode(text)) AS h, "
    "octet_length(encode(text))::BIGINT AS n FROM documents), "
    "u AS (SELECT doc_id, n, list_transform(range(0, n::INT), "
    "i -> ('0x' || substr(h, (i*2+1)::INT, 2))::BIGINT) AS bl FROM b) "
    "SELECT doc_id, n AS n_bytes, "
    "coalesce(list_min(bl), 0)::BIGINT AS b_min, "
    "coalesce(list_max(bl), 0)::BIGINT AS b_max, "
    "coalesce(bl[1], 0)::BIGINT AS b_first, "
    "coalesce(bl[len(bl)], 0)::BIGINT AS b_last, "
    "(coalesce(list_sum(bl), 0) % 997)::BIGINT AS b_cksum FROM u"
)


def _media_meta_sql() -> str:
    from jvector_spark.operators.multimodal import MAGIC

    chain = " ".join(
        f"WHEN starts_with(hex(encode(text)), '{prefix}') THEN '{label}'"
        for prefix, label in MAGIC
    )
    return (
        "SELECT doc_id, octet_length(encode(text))::BIGINT AS n_bytes, "
        "md5(text) AS content_md5, "
        f"CASE {chain} ELSE 'unknown' END AS format FROM documents"
    )


def oracle_sql() -> dict[str, str]:
    u6 = lambda x: f"CAST(floor({x} * 1e6 + 0.5) AS BIGINT)"  # noqa: E731
    cents = lambda x: f"CAST(floor({x} * 100.0 + 0.5) AS BIGINT)"  # noqa: E731
    tfidf_sql = (
        f"WITH {_TOKS}, {_TOK}, {_TF}, {_STATS.replace('FROM dl', 'FROM (SELECT doc_id, len(l)::BIGINT AS dl FROM toks) dl')}, {_QT}, "
        "qdf AS (SELECT term, count(*)::BIGINT AS df FROM tf "
        "WHERE term IN (SELECT term FROM qt) GROUP BY term), "
        "s AS (SELECT qt.query_id, tf.doc_id, "
        "sum(qt.weight * (1.0 + ln(tf.tf)) * ln(1.0 + stats.n_docs / qdf.df)) AS score "
        "FROM tf JOIN qt USING (term) JOIN qdf USING (term) CROSS JOIN stats "
        "GROUP BY qt.query_id, tf.doc_id) "
        "SELECT query_id, "
        "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
        f"doc_id, {u6('score')} AS score_u6 FROM s QUALIFY rank <= 10"
    )
    return {
        "doc_ids": (
            "SELECT doc_id, (row_number() OVER (ORDER BY source, doc_id) - 1)::BIGINT AS new_id "
            "FROM documents"
        ),
        "tokenize": f"WITH {_TOKS}, {_TOK} SELECT doc_id, term FROM tok",
        "term_freq": f"WITH {_TOKS}, {_TOK}, {_TF} SELECT doc_id, term, tf FROM tf",
        "doc_stats": f"WITH {_TOKS}, {_DL} SELECT doc_id, dl FROM dl",
        "dictionary": (
            f"WITH {_TOKS}, {_TOK}, {_TF} "
            "SELECT term, (row_number() OVER (ORDER BY term) - 1)::BIGINT AS term_id, "
            "count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf FROM tf GROUP BY term"
        ),
        "bm25_score": (
            f"{_BM25_CTE} SELECT query_id, doc_id, {u6('score')} AS score_u6 FROM scores"
        ),
        "bm25_topk": (
            f"{_BM25_CTE} SELECT query_id, "
            "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM scores "
            "QUALIFY rank <= 10"
        ),
        "bm25_topk_docpart": (
            f"{_BM25_CTE} SELECT query_id, "
            "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM scores "
            "QUALIFY rank <= 10"
        ),
        "bm25_topk_bruteforce": (
            f"{_BM25_CTE} SELECT query_id, "
            "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM scores "
            "QUALIFY rank <= 10"
        ),
        "tfidf_topk_indexed": tfidf_sql,
        "postings_decode": (
            f"WITH {_TOKS}, {_TOK}, {_TF}, "
            "dict AS (SELECT term, (row_number() OVER (ORDER BY term) - 1)::BIGINT AS term_id "
            "FROM (SELECT DISTINCT term FROM tf)) "
            "SELECT dict.term_id, tf.doc_id, tf.tf FROM tf JOIN dict USING (term)"
        ),
        "boolean_and_indexed": (
            f"WITH {_TOKS}, {_TOK} SELECT doc_id FROM tok "
            f"WHERE term IN ('{BOOL_TERMS[0]}','{BOOL_TERMS[1]}') "
            "GROUP BY doc_id HAVING count(DISTINCT term) = 2"
        ),
        "boolean_or_indexed": (
            f"WITH {_TOKS}, {_TOK} SELECT DISTINCT doc_id FROM tok "
            f"WHERE term IN ('{BOOL_TERMS[0]}','{BOOL_TERMS[1]}')"
        ),
        "filter_topk_indexed": (
            f"{_BM25_CTE}, filtered AS (SELECT s.* FROM scores s "
            "JOIN documents d USING (doc_id) WHERE d.lang = 'en') "
            "SELECT query_id, "
            "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM filtered QUALIFY rank <= 10"
        ),
        "threshold_search": (
            f"{_BM25_CTE} SELECT query_id, doc_id, {u6('score')} AS score_u6 "
            f"FROM scores WHERE score >= {THRESH}"
        ),
        "phrase_count": _phrase_sql(PHRASE),
        "phrase_count_indexed": _phrase_sql(PHRASE),
        "phrase_count3_indexed": _phrase_sql(PHRASE3),
        "proximity_count": (
            f"WITH {_TOKS}, "
            "pos AS (SELECT doc_id, unnest(list_zip(l, range(1, len(l) + 1))) AS z FROM toks), "
            "p AS (SELECT doc_id, z[1] AS term, z[2]::BIGINT AS pos FROM pos) "
            "SELECT a.doc_id, count(*)::BIGINT AS n_prox FROM p a "
            "JOIN p b ON b.doc_id = a.doc_id "
            f"AND abs(b.pos - a.pos) <= {PROX_SLOP} "
            f"WHERE a.term = '{PROX[0]}' AND b.term = '{PROX[1]}' "
            "GROUP BY a.doc_id"
        ),
        "prefix_topk": (
            f"WITH {_TOKS}, {_TOK}, {_TF}, {_DL}, {_STATS}, {_DFREQ}, "
            "qt AS (SELECT 0 AS query_id, term, 1.0 AS weight FROM dfreq "
            f"WHERE term LIKE '{PREFIX}%'), "
            f"{_SCORES} "
            "SELECT row_number() OVER (ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM scores QUALIFY rank <= 10"
        ),
        "conv_topk": (
            f"{_BM25_CTE}, g AS (SELECT s.query_id, d.source, "
            "max(s.score) AS score FROM scores s "
            "JOIN documents d USING (doc_id) GROUP BY s.query_id, d.source) "
            "SELECT query_id, row_number() OVER "
            "(PARTITION BY query_id ORDER BY score DESC, source)::INT AS rank, "
            f"source, {u6('score')} AS score_u6 FROM g QUALIFY rank <= {CONV_K}"
        ),
        "token_positions": (
            f"WITH {_TOKS}, "
            "pos AS (SELECT doc_id, unnest(list_zip(l, range(1, len(l) + 1))) AS z FROM toks) "
            "SELECT doc_id, z[2]::INT AS pos, z[1] AS term FROM pos"
        ),
        "exact_dedup": (
            "SELECT min(doc_id)::BIGINT AS rep_doc_id, count(*)::BIGINT AS n_dups "
            "FROM documents GROUP BY md5(text)"
        ),
        "minhash_signatures": (
            f"WITH {_TOKS}, {_SHINGLES}, {_SEEDS}, {_SIGS} "
            "SELECT doc_id, seed::INT AS seed, minhash FROM sigs"
        ),
        "minhash_near_dups": (
            f"WITH {_TOKS}, {_SHINGLES}, {_SHC}, {_SEEDS}, {_SIGS}, {_BANDS}, {_CAND}, "
            f"{_SIZES}, {_INTER}, {_JAC} "
            f"SELECT c.a, c.b, {u6('j.jaccard')} AS jaccard_u6 FROM cand c "
            "JOIN jac j ON j.a = c.a AND j.b = c.b WHERE j.jaccard >= 0.5"
        ),
        "jaccard_pairs": (
            f"WITH {_TOKS}, {_SHINGLES}, {_SHC}, {_SIZES}, {_INTER}, {_JAC} "
            f"SELECT a, b, {u6('jaccard')} AS jaccard_u6 FROM jac WHERE jaccard >= 0.5"
        ),
        "dedup_groups": (
            f"WITH RECURSIVE {_TOKS}, {_SHINGLES}, {_SHC}, {_SEEDS}, {_SIGS}, "
            f"{_BANDS}, {_CAND}, {_SIZES}, {_INTER}, {_JAC}, "
            "e AS (SELECT c.a, c.b FROM cand c JOIN jac j ON j.a = c.a AND j.b = c.b "
            "WHERE j.jaccard >= 0.5), "
            "und AS (SELECT a AS n, b AS m FROM e UNION SELECT b, a FROM e), "
            "reach(n, m) AS ("
            "SELECT n, n FROM (SELECT DISTINCT n FROM und) "
            "UNION "
            "SELECT und.m, reach.m FROM reach JOIN und ON und.n = reach.n) "
            "SELECT n::BIGINT AS doc_id, min(m)::BIGINT AS rep_id FROM reach GROUP BY n"
        ),
        "simhash": (
            f"WITH {_TOKS}, {_TOK}, {_TF}, "
            "h AS (SELECT doc_id, tf, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf), "
            "bits AS (SELECT doc_id, bit, sum(tf * (2 * ((h >> bit::INT) & 1) - 1)) AS s "
            "FROM h CROSS JOIN (SELECT unnest(range(0, 16)) AS bit) b GROUP BY doc_id, bit) "
            "SELECT doc_id, sum(CASE WHEN s > 0 THEN (1::BIGINT << bit::INT) ELSE 0 END)::BIGINT AS simhash "
            "FROM bits GROUP BY doc_id"
        ),
        "lang_id": _LANG,
        "quality_score": _QUALITY,
        "token_count": f"WITH {_TOKS} SELECT doc_id, len(l)::BIGINT AS n_tokens FROM toks",
        "doc_fingerprint": (
            f"WITH {_TOKS}, {_TOK} "
            "SELECT doc_id, min(md5(term)) AS fingerprint FROM tok GROUP BY doc_id"
        ),
        "delete_search": (
            f"{_BM25_CTE} SELECT query_id, "
            "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM scores "
            f"WHERE doc_id NOT IN ({','.join(str(i) for i in DELETE_IDS)}) "
            "QUALIFY rank <= 10"
        ),
        "extend_search": (
            f"{_BM25_CTE} SELECT query_id, "
            "row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)::INT AS rank, "
            f"doc_id, {u6('score')} AS score_u6 FROM scores "
            "QUALIFY rank <= 10"
        ),
        # postings_build / embedding_near_dups_lsh: intentionally no SQL
        # oracle (packed binary blocks and an approximate LSH candidate set
        # respectively) — the driver records rows-only checks; exactness is
        # pytest-enforced.
        "media_meta": _media_meta_sql(),
        "media_features": _MEDIA_FEATURES_SQL,
        "frame_sample": (
            # fixed-width frames over the payload's hex dump (256 bytes =
            # 512 hex chars per frame); md5 over the hex string matches the
            # Spark side's md5(hex(frame_bytes)) exactly
            "WITH b AS (SELECT doc_id, hex(encode(text)) AS h, "
            "octet_length(encode(text))::BIGINT AS n FROM documents), "
            "f AS (SELECT doc_id, h, "
            "unnest(range(0, greatest(1, ceil(n / 256.0))::INT)) AS fi FROM b) "
            "SELECT doc_id, fi::INT AS frame_idx, "
            "(length(substr(h, (fi * 512 + 1)::INT, 512)) / 2)::BIGINT AS n_bytes, "
            "md5(substr(h, (fi * 512 + 1)::INT, 512)) AS frame_md5 FROM f"
        ),
        "embedding_near_dups": (
            "WITH n AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / "
            "sqrt(list_sum(list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv "
            "FROM embeddings), "
            "p AS (SELECT a.vec_id AS a, b.vec_id AS b, "
            "list_sum(list_transform(list_zip(a.nv, b.nv), z -> z[1] * z[2])) AS cos "
            "FROM n a JOIN n b ON a.vec_id < b.vec_id) "
            f"SELECT a, b, {u6('cos')} AS cos_u6 FROM p WHERE cos >= {NEARDUP_COS}"
        ),
        "ann_topk": _ANN_TOPK_SQL,
        # SQ8 two-phase path must equal the exact scan bit-for-bit — same
        # oracle (the compressed-vs-exact equivalence the reference tests at
        # TestCompressedVectors.java:231)
        "ann_topk_sq8": _ANN_TOPK_SQL,
        # PQ two-phase path must equal the exact scan bit-for-bit — same
        # oracle (ADC first pass + exact rerank, the 32x tier)
        "ann_topk_pq": _ANN_TOPK_SQL,
        # BQ (1 bit/dim Hamming first pass + exact rerank) must also equal
        # the exact scan — rank-identical at the pytest-sized rerank margin
        "ann_topk_bq": _ANN_TOPK_SQL,
        "ann_topk_nvq": _ANN_TOPK_SQL,
        "ann_topk_batch": _ANN_TOPK_BATCH_SQL,
        # batch SQ8 two-phase must equal the exact batch scan — same oracle
        "ann_topk_sq8_batch": _ANN_TOPK_BATCH_SQL,
        # batch BQ (Hamming first pass) must also equal the exact batch scan
        "ann_topk_bq_batch": _ANN_TOPK_BATCH_SQL,
        # ann_topk_lsh / ann_topk_ivf: approximate operators (hyperplanes /
        # k-means centroids live in numpy) — intentionally no SQL oracle
        # (driver records rows-only); full-probe == exact and recall floors
        # are asserted in pytest instead.
        "scan_filter": (
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
            "WHERE l_shipdate < TIMESTAMP '1996-01-01' AND l_discount > 0.05"
        ),
        "group_agg": (
            "SELECT l_returnflag, l_linestatus, "
            f"{cents('sum(l_quantity)')} AS sum_qty_c, "
            f"{cents('sum(l_extendedprice)')} AS sum_base_c, "
            f"{cents('sum(l_extendedprice * (1 - l_discount))')} AS sum_disc_c, "
            "count(*)::BIGINT AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus"
        ),
        "hash_join": (
            "SELECT c_mktsegment, count(*)::BIGINT AS n_orders, "
            f"{cents('sum(o_totalprice)')} AS total_c "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
        ),
        "window_rank": (
            "SELECT o_custkey, row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_totalprice DESC, o_orderkey)::INT AS rnk, o_orderkey, o_totalprice "
            "FROM orders QUALIFY rnk <= 3"
        ),
        "sort_limit": (
            "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
            "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20"
        ),
        "events_window_agg": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, count(*)::BIGINT AS n, "
            f"{cents('sum(value)')} AS value_c FROM events GROUP BY 1, 2"
        ),
    }
