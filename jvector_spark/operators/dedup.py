"""Deduplication operators for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup.

Design rule: every hash is built from ``md5`` (identical in Spark and
DuckDB), so each operator is *cross-engine deterministic* and most have an
exact DuckDB SQL oracle — the analog of the reference's golden-file
determinism and fast-vs-slow-path equivalence tests
(TestCompressedVectors.java:231, TestFusedGraphIndex.java:183-235).

Everything is JVM-side Catalyst expressions; no Python in the hot path.

Scale notes:
- exact dedup = one groupBy on the text hash (map-side combine);
- MinHash signatures are a per-row expression (narrow); LSH banding turns
  the O(N²) candidate problem into an equi-join on band keys — the same
  shuffle-by-key trick the index build uses for terms;
- Jaccard verification joins only docs sharing a shingle (inverted-index
  join), never the full cross product; the shared-shingle join is itself
  skew-prone for stop-shingles, so callers can cap shingle df via
  ``max_shingle_df`` (the dedup analog of hot-term salting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.analysis import tokens_col

DEFAULT_NUM_HASHES = 8
DEFAULT_BANDS = 4  # rows per band = num_hashes // bands
# hot-shingle cap for the LSH verify tier: a shingle shared by more than
# this many docs is a stop-shingle — it contributes pair candidates
# quadratically while carrying almost no similarity signal. The dedup
# analog of hot-term salting. NOT the default for the exact tier
# (``jaccard_pairs``): capped-set Jaccard diverges from true Jaccard, so
# the exact tier stays exact unless the caller opts in.
DEFAULT_MAX_SHINGLE_DF = 256


def _materialize_and_release(result: DataFrame, pins: list[DataFrame]) -> DataFrame:
    """Persist + eagerly materialize the (pair-sized) result, then release
    every intermediate pin. The returned frame is the ONE remaining pin —
    callers looping dedup in a long-lived session release it with
    ``.unpersist()`` (pinned-RDD hygiene is tested in test_plan_audit)."""
    result = result.persist()
    result.count()
    for p in pins:
        p.unpersist()
    return result


def _exploded_shingles(
    corpus: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingle) rows, one per shingle position.

    The token array is materialized ONCE per document in its own
    projection: inlining the tokenizer into the per-position ``transform``
    lambda re-tokenizes the full text for every shingle (O(positions ×
    text-length) per doc — measured 10× the rest of the whole near-dup
    operator at sf0.1). The ``monotonically_increasing_id`` column is a
    deliberate optimizer barrier: ``CollapseProject`` does not merge
    through a non-deterministic projection, which would re-inline the
    token array into every lambda reference."""
    toks = corpus.select(
        F.col(id_col),
        tokens_col(text_col).alias("_toks"),
        F.monotonically_increasing_id().alias("_nocollapse"),
    )
    shingles = F.when(
        F.size("_toks") >= n,
        F.expr(
            f"transform(sequence(1, size(_toks) - {n} + 1), "
            f"i -> concat_ws(' ', slice(_toks, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(F.col(id_col), F.explode(shingles).alias("shingle"))


def _shingle_relation(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    max_shingle_df: int | None,
) -> tuple[DataFrame, list[DataFrame]]:
    """(id, shingle) distinct relation, hot shingles dropped per the cap.
    Returns (relation, pins) — pins the caller must release after its own
    last materializing action."""
    sh = _exploded_shingles(corpus, text_col, id_col, shingle_n).distinct()
    pins: list[DataFrame] = []
    if max_shingle_df is not None:
        # the relation feeds BOTH the df-count aggregate and the anti-join
        # (plus the caller's consumers) — persist so the tokenize/explode/
        # distinct pipeline runs once. The aggregate+broadcast-anti-join
        # shape is deliberate: a count-window over shingle would put an
        # entire stop-shingle's rows in one partition, while the aggregate
        # combines map-side and ships only the (tiny) hot list. At cluster
        # scale swap the persist for a staging-table write (DISK_ONLY).
        sh = sh.persist()
        pins.append(sh)
        hot = sh.groupBy("shingle").count().filter(F.col("count") > max_shingle_df)
        sh = sh.join(F.broadcast(hot.select("shingle")), "shingle", "left_anti")
    return sh, pins


def exact_dedup(corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(rep_doc_id, n_dups) — one representative (min doc_id) per distinct
    text; reference analog of tombstone-compaction keeping one live copy
    (GraphIndexBuilder.removeDeletedNodes, surveyed B8)."""
    return (
        corpus.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(F.col(id_col)).cast("long").alias("rep_doc_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
        .select("rep_doc_id", "n_dups")
    )


def minhash_signatures(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc_id, seed, minhash) — one row per (doc, hash seed); minhash =
    lexicographic min of md5(seed || ':' || shingle). Docs with fewer than
    ``shingle_n`` tokens produce no rows (no shingles)."""
    sh = _exploded_shingles(corpus, text_col, id_col, shingle_n).distinct()
    seeds = F.explode(F.sequence(F.lit(0), F.lit(num_hashes - 1))).alias("seed")
    return (
        sh.select(id_col, "shingle", seeds)
        .groupBy(id_col, "seed")
        .agg(
            F.min(F.md5(F.concat_ws(":", F.col("seed"), F.col("shingle")))).alias(
                "minhash"
            )
        )
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(a, b) candidate near-dup pairs (a < b) sharing ≥1 LSH band.

    Band key = md5 over the band's concatenated minhashes; the self-join is
    an equi-join on (band_id, band_key) — shuffle on a short key, never a
    cross product.
    """
    rows_per_band = num_hashes // bands
    banded = (
        signatures.withColumn("band_id", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band_id")
        .agg(
            F.md5(
                F.concat_ws("|", F.array_sort(F.collect_list(
                    F.concat_ws(":", F.col("seed"), F.col("minhash"))
                )))
            ).alias("band_key")
        )
    )
    left = banded.select(
        F.col(id_col).alias("a"), "band_id", "band_key"
    )
    right = banded.select(F.col(id_col).alias("b"), "band_id", "band_key")
    return (
        left.join(right, ["band_id", "band_key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def jaccard_pairs(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(a, b, jaccard) for doc pairs with shingle-set Jaccard ≥ threshold,
    a < b. Pairs are generated through an inverted shingle index (docs must
    share ≥1 shingle), with |A| and |B| precomputed so the union is derived
    from the intersection count — no per-pair set materialization. This is
    the *explicit exact tier*: TRUE Jaccard by default (``max_shingle_df``
    is opt-in — a cap silently shifts both intersection and set sizes to
    capped-set semantics). Near-quadratic on pathological corpora — at
    scale run ``minhash_near_dups``, whose verification touches candidate
    pairs only. Eager: the pair-sized result is persisted/materialized and
    intermediate pins released; call ``.unpersist()`` on it when done."""
    sh, pins = _shingle_relation(corpus, text_col, id_col, shingle_n, max_shingle_df)
    if not pins:
        # no cap → _shingle_relation didn't pin; persist here, the relation
        # feeds three consumers (sizes + both join sides)
        sh = sh.persist()
        pins = [sh]
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("a"), "shingle")
    b = sh.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    res = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return _materialize_and_release(res, pins)


def minhash_near_dups(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """(a, b, jaccard) — LSH candidates verified with exact Jaccard ≥
    threshold. The two-phase shape (cheap candidate pass + exact verify)
    mirrors the reference's approximate-then-rerank search
    (GraphSearcher.java:451-487).

    Verification is strictly candidates-only (the banding win is kept):
    the shingle relation is first semi-joined down to docs appearing in
    some candidate pair, the shingle equi-join therefore only ever pairs
    candidate docs, and generated pairs are semi-joined against the
    candidate set BEFORE the intersection aggregate. No unrestricted
    shingle self-join exists anywhere in the plan (plan-audit-tested) —
    at 10^12 docs the exact-Jaccard work is O(candidates), not
    O(shingle-cooccurrence).

    Eager: the pair-sized result is persisted/materialized and every
    intermediate pin (candidates, shingle relations) released before
    returning; call ``.unpersist()`` on the result when done."""
    sigs = minhash_signatures(corpus, text_col, id_col, num_hashes, shingle_n)
    # materialize the candidate set once: it feeds the doc restriction AND
    # the pair semi-join — without the persist the signature+banding
    # pipeline re-executes per consumer (measured 1.5× wall on the contract
    # entry). Pair-sized, far below corpus size.
    cand = lsh_candidate_pairs(sigs, id_col, num_hashes, bands).persist()
    sh, pins = _shingle_relation(corpus, text_col, id_col, shingle_n, max_shingle_df)
    cand_docs = (
        cand.select(F.col("a").alias(id_col))
        .union(cand.select(F.col("b").alias(id_col)))
        .distinct()
    )
    # the capped candidate-doc shingle relation feeds THREE consumers
    # (sizes, both join sides) — without the persist the tokenize + explode
    # + hot-shingle-cap pipeline re-executes per consumer (measured 1.5× on
    # the sf0.1 entry). Candidate-doc-sized, far below corpus size.
    shc = sh.join(cand_docs, id_col, "left_semi").persist()
    # sizes over the candidate docs' FULL (capped) shingle sets — identical
    # denominators to the exact tier
    sizes = shc.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shc.select(F.col(id_col).alias("a"), "shingle")
    b = shc.select(F.col(id_col).alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .join(cand, ["a", "b"], "left_semi")
        .groupBy("a", "b")
        .agg(F.count("*").cast("double").alias("inter"))
    )
    res = (
        inter.join(sizes.select(F.col(id_col).alias("a"), F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col(id_col).alias("b"), F.col("sz").alias("szb")), "b")
        .withColumn("jaccard", F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return _materialize_and_release(res, pins + [cand, shc])


DEDUP_LOCAL_EDGE_LIMIT = 65536  # ≤ this many edges → driver union-find


def dedup_components(
    pairs: DataFrame,
    max_iters: int = 50,
    local_edge_limit: int = DEDUP_LOCAL_EDGE_LIMIT,
) -> DataFrame:
    """(doc_id, rep_id) — connected components over a near-dup pair graph
    (a < b edges), each doc labeled with the minimum doc_id reachable from
    it: the canonical "keep one representative per duplicate cluster" step
    after ``minhash_near_dups``.

    Iterative min-label propagation: label(n) ← min(label(n),
    min(label(neighbors))) until a fixpoint, checked via the (monotone
    non-increasing) label sum — O(component diameter) joins, each a plain
    shuffle-by-id. Near-dup clusters are shallow (dozens of docs), so this
    converges in a handful of rounds; a corpus with pathological million-hop
    chains would want the large-star/small-star contraction instead
    (documented trade-off, not needed for dedup graphs). Only docs that
    appear in some pair are returned (singletons are their own rep
    trivially).

    Small graphs (≤ ``local_edge_limit`` edges — the common case: near-dup
    pair sets are tiny relative to the corpus) are solved DRIVER-SIDE with
    a union-find over the collected edges instead of paying ~2 Spark
    actions of fixed job latency per fixpoint iteration — the same
    small-side principle as a broadcast join. Identical (doc_id, rep_id)
    output either way; the distributed loop remains the ≥100k-edge path."""
    # ONE upstream execution decides the path AND supplies the edges: a
    # limit(L+1) collect is bounded like count() but avoids running an
    # unpersisted caller pipeline twice (and a nondeterministic upstream
    # can't straddle a separate count/collect pair)
    rows = pairs.select("a", "b").limit(int(local_edge_limit) + 1).collect()
    if len(rows) <= int(local_edge_limit):
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r_ in rows:
            a, b = int(r_.a), int(r_.b)
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-id root → rep(n) = min doc_id in the component
                lo_, hi_ = (ra, rb) if ra < rb else (rb, ra)
                parent[hi_] = lo_
        out = pairs.sparkSession.createDataFrame(
            sorted((n, find(n)) for n in parent),
            "doc_id long, rep_id long",
        ).persist()
        out.count()
        return out

    # materialize the edge relation ONCE: every fixpoint iteration joins it,
    # and without the persist each join would replay the whole upstream
    # near-dup pipeline (LSH + verify) per iteration
    und = (
        pairs.select(F.col("a").alias("n"), F.col("b").alias("m"))
        .union(pairs.select(F.col("b").alias("n"), F.col("a").alias("m")))
        .persist()
    )
    labels = und.select("n").distinct().withColumn("lbl", F.col("n")).persist()
    prev = labels.agg(F.sum("lbl")).collect()[0][0]
    for _ in range(max_iters):
        nbr = (
            und.join(
                labels.select(F.col("n").alias("m"), F.col("lbl").alias("mlbl")),
                "m",
            )
            .groupBy("n")
            .agg(F.min("mlbl").alias("nbr_lbl"))
        )
        nxt = (
            labels.join(nbr, "n", "left")
            .select(
                "n",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nbr_lbl"), F.col("lbl"))
                ).alias("lbl"),
            )
            .persist()
        )
        cur = nxt.agg(F.sum("lbl")).collect()[0][0]
        labels.unpersist()
        labels = nxt
        if cur == prev:
            break
        prev = cur
    # materialize the (pair-participant-sized) output, then release every
    # intermediate pin — the returned frame is the ONE remaining pin and
    # `.unpersist()` on it releases everything (hygiene-tested).
    out = labels.select(
        F.col("n").cast("long").alias("doc_id"),
        F.col("lbl").cast("long").alias("rep_id"),
    ).persist()
    out.count()
    labels.unpersist()
    und.unpersist()
    return out


def simhash(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(doc_id, simhash) — tf-weighted SimHash over term hashes.

    Term hash = first 15 hex chars of md5 (60 bits, sign-safe in int64,
    identical in DuckDB via ('0x'||substr(md5(t),1,15))::BIGINT). Bit b of
    the simhash is 1 iff Σ_terms tf·(2·bit_b(h)−1) > 0. ``bits`` ≤ 60.
    """
    tf = (
        corpus.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        .withColumn(
            "h", F.conv(F.substring(F.md5(F.col("term")), 1, 15), 16, 10).cast("long")
        )
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    contrib = (
        tf.select(id_col, "tf", "h", bit)
        .withColumn(
            # shiftright with a column shift amount needs the SQL form — the
            # python F.shiftright only accepts a literal int
            "v",
            F.col("tf") * F.expr("(shiftright(h, cast(bit AS int)) & 1) * 2 - 1"),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("v").alias("s"))
    )
    return (
        contrib.withColumn(
            "bitval",
            F.when(
                F.col("s") > 0,
                F.expr("shiftleft(cast(1 AS bigint), cast(bit AS int))"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy(id_col)
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )
