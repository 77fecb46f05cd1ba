"""Persisted compressed-vector index structures: PQ / SQ8 / BQ / NVQ
tiers with an on-disk layout, load path, incremental extend, tombstone
delete, drift metric, and refine (retrain + re-encode).

Reference analogs: the reference persists and reuses trained PQ across
runs instead of retraining per query (Grid.java:681-719 ``pq_cache``,
README.md:266 "you can serialize/deserialize the PQVectors"), ships
committed format goldens (TestProductQuantization.java:216-231,
``version0.pq``), refines codebooks on changed data
(ProductQuantization.java:159-196 ``refine``), and offers a 1-bit
Binary Quantization tier as the cheapest memory point
(BinaryQuantization.java:88-110, BQVectors.java:95-118).

On-disk layout (one directory per structure, all parquet — same
conventions as the text index's format v2 and the IVF structure):

- ``manifest/``   one row: (version, kind, dim, m, k, dsub, train_mse)
- ``codebooks/``  PQ: (subspace, cluster, centroid array<double>)
- ``params/``     SQ8: (i, mn, scale) per dimension
- ``codes/``      (vec_id, codes binary) — m B (PQ), dim B (SQ8),
                  dim/8 B (BQ), dim·bits/8 B + 3 doubles inline (NVQ,
                  per-vector params — NVQuantization.java:583-638)
                  per vector
- ``tombstones/`` optional (vec_id) appended by ``*_delete``

Queries load the k·dsub-sized codebooks driver-side (broadcast-sized, like
the text dictionary) and SCAN ``codes/`` — the per-query cost at 100 TB is
one compressed columnar scan, never a retrain/re-encode.

Driver-sized tables go through Arrow on the driver (the ``index.storage``
rule): the manifest, params, codebooks and tombstones are read with
pyarrow and run no Spark job, and ``codes/`` is opened with the schema in
its own footer, so no schema-inference job is planned either. Every tier
then serves through the one two-phase path
(``operators.similarity.two_phase_topk``): a single-query call runs two
Spark jobs, the codes scan and the fetch of the candidates' vectors.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .storage import (
    arrow_rows,
    local_relation,
    local_schema,
    read_local,
    write_local,
)

FORMAT_VERSION = 1


# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------

def _write_manifest(index_dir: str, kind: str, **fields) -> None:
    row = {
        "version": FORMAT_VERSION,
        "kind": kind,
        "dim": 0, "m": 0, "k": 0, "dsub": 0,
        "train_mse": 0.0,
        **fields,
    }
    write_local(
        arrow_rows(
            [(int(row["version"]), str(row["kind"]), int(row["dim"]), int(row["m"]),
              int(row["k"]), int(row["dsub"]), float(row["train_mse"]))],
            "version int, kind string, dim int, m int, k int, dsub int, train_mse double",
        ),
        index_dir, "manifest", mode="overwrite",
    )


def _read_required(index_dir: str, name: str) -> pa.Table:
    tbl = read_local(index_dir, name)
    if tbl is None or tbl.num_rows == 0:
        raise FileNotFoundError(f"no {name} rows under {index_dir}")
    return tbl


def read_manifest(spark: SparkSession, index_dir: str) -> dict:
    """The manifest row as a plain dict (the Python types ``Row.asDict``
    gives); raises on a format version newer than this engine."""
    d = _read_required(index_dir, "manifest").slice(0, 1).to_pylist()[0]
    if d["version"] > FORMAT_VERSION:
        raise ValueError(
            f"vector index at {index_dir} has format version {d['version']}; "
            f"this engine reads <= {FORMAT_VERSION}"
        )
    return d


def read_codes(spark: SparkSession, index_dir: str) -> DataFrame:
    """The corpus-sized codes table, opened with its footer's schema."""
    return spark.read.schema(local_schema(index_dir, "codes")).parquet(
        os.path.join(index_dir, "codes")
    )


def vector_tombstones(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """The distinct tombstoned ids as a local relation (read with pyarrow;
    no Spark job), or None when there are none."""
    tbl = read_local(index_dir, "tombstones")
    if tbl is None or tbl.num_rows == 0:
        return None
    name = tbl.column_names[0]
    ids = sorted(pc.unique(tbl[name]).to_pylist())
    return local_relation(spark, [(i,) for i in ids], f"{name} long")


def vector_delete(spark: SparkSession, index_dir: str, ids, id_col: str = "vec_id") -> None:
    """Tombstone vectors in any persisted compressed structure (M1): ids
    land in ``tombstones/`` and every indexed query masks them off the
    codes scan. Physical reclamation = rebuild/refine over live rows. The
    ids are deduplicated on the driver and appended as one file with
    pyarrow (no Spark job)."""
    ids = sorted({int(i) for i in ids})
    if ids:
        write_local(arrow_rows([(i,) for i in ids], f"{id_col} long"),
                    index_dir, "tombstones")


# ---------------------------------------------------------------------------
# PQ structure
# ---------------------------------------------------------------------------

def pq_build(
    embeddings: DataFrame,
    index_dir: str,
    m: int | None = None,
    n_clusters: int = 256,
    n_iters: int = 10,
    seed: int = 99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anisotropic_eta: float | None = None,
) -> np.ndarray:
    """Train codebooks once, encode the corpus once, PERSIST both — the
    serve-time query path is then one codes scan per query batch (the
    Grid.java:681-719 pq_cache idiom; the anti-pattern this replaces is
    retraining k-means + re-encoding per call). Returns the codebooks.

    ``anisotropic_eta`` switches the encoder to anisotropic coordinate-
    descent code assignment (ProductQuantization.java:244-424's
    accuracy-per-byte variant): reconstruction error parallel to the
    vector is weighted ``eta`` × the orthogonal error, which preferentially
    preserves inner products at the same byte budget."""
    from ..operators.pq import pq_encode, pq_train

    books = pq_train(
        embeddings, m=m, n_clusters=n_clusters, n_iters=n_iters, seed=seed,
        id_col=id_col, vec_col=vec_col,
    )
    mm, k, dsub = books.shape
    write_local(
        arrow_rows(
            [
                (int(s), int(c), [float(x) for x in books[s, c]])
                for s in range(mm)
                for c in range(k)
            ],
            "subspace int, cluster int, centroid array<double>",
        ),
        index_dir, "codebooks", mode="overwrite",
    )
    codes = pq_encode(
        embeddings, books, id_col, vec_col, anisotropic_eta=anisotropic_eta
    )
    codes.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    mse = _pq_sample_mse(embeddings, books, id_col, vec_col)
    _write_manifest(
        index_dir, "pq", dim=mm * dsub, m=mm, k=k, dsub=dsub, train_mse=mse
    )
    return books


def pq_read_codebooks(spark: SparkSession, index_dir: str) -> np.ndarray:
    man = read_manifest(spark, index_dir)
    tbl = _read_required(index_dir, "codebooks").sort_by(
        [("subspace", "ascending"), ("cluster", "ascending")]
    )
    books = pc.list_flatten(tbl["centroid"]).to_numpy().astype(np.float64)
    return books.reshape(man["m"], man["k"], man["dsub"])


def pq_load(spark: SparkSession, index_dir: str) -> tuple[np.ndarray, DataFrame]:
    """(codebooks, codes) from the persisted structure — the serve path."""
    return pq_read_codebooks(spark, index_dir), read_codes(spark, index_dir)


def pq_extend(
    new_embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors encoded under the EXISTING codebooks (B10 for the PQ
    tier — buildAndMergeNewNodes: insert into the existing structure).
    Codebooks are unchanged, so extend ≡ rebuild-with-same-codebooks;
    distribution drift accumulates silently — monitor with
    :func:`pq_drift` and fold back in with :func:`pq_refine`."""
    from ..operators.pq import pq_encode

    spark = new_embeddings.sparkSession
    books = pq_read_codebooks(spark, index_dir)
    delta = pq_encode(new_embeddings, books, id_col, vec_col)
    n = delta.count()
    delta.write.mode("append").parquet(os.path.join(index_dir, "codes"))
    return int(n)


def _pq_sample_mse(
    embeddings: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
) -> float:
    """Mean squared quantization error of a bounded deterministic sample
    under ``books`` — the drift statistic (stored at build time; compared
    against fresh data by :func:`pq_drift`)."""
    pdf = (
        embeddings.select(id_col, vec_col).orderBy(id_col)
        .limit(int(sample_size)).toPandas()
    )
    if len(pdf) == 0:
        return 0.0
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    mm, _, dsub = books.shape
    err = 0.0
    for s in range(mm):
        sub = X[:, s * dsub : (s + 1) * dsub]
        d = ((books[s] ** 2).sum(axis=1) - 2.0 * (sub @ books[s].T))
        code = np.argmin(d, axis=1)
        err += float(((sub - books[s][code]) ** 2).sum())
    return err / len(X)


def pq_drift(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Quantization-error drift of the persisted codebooks vs the supplied
    (current) corpus: {build_mse, current_mse, drift_ratio}. A ratio well
    above 1 means the data distribution moved since training — recall of
    the ADC first pass is degrading and :func:`pq_refine` (or a rebuild)
    is due. The verify_index-style health check the reference's refine
    loop implies (ProductQuantization.java:159-196)."""
    man = read_manifest(spark, index_dir)
    books = pq_read_codebooks(spark, index_dir)
    cur = _pq_sample_mse(embeddings, books, id_col, vec_col, sample_size)
    base = float(man["train_mse"]) or 1e-12
    return {
        "build_mse": float(man["train_mse"]),
        "current_mse": cur,
        "drift_ratio": cur / base,
    }


def pq_refine(
    embeddings: DataFrame,
    index_dir: str,
    n_iters: int = 10,
    seed: int = 99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anisotropic_eta: float | None = None,
) -> np.ndarray:
    """Retrain codebooks on a bounded fresh sample of the CURRENT corpus
    and re-encode everything — the C4 vector-tier refine
    (ProductQuantization.java:159-196): after enough ``pq_extend`` drift,
    refine restores the recall of a fresh build (extend-then-refine ≡
    fresh-build, pytest-enforced). Keeps m/k from the manifest; clears no
    tombstones (masking is orthogonal to encoding)."""
    spark = embeddings.sparkSession
    man = read_manifest(spark, index_dir)
    return pq_build(
        embeddings, index_dir, m=man["m"], n_clusters=man["k"],
        n_iters=n_iters, seed=seed, id_col=id_col, vec_col=vec_col,
        anisotropic_eta=anisotropic_eta,
    )


def ann_topk_pq_indexed(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase PQ top-k against the PERSISTED structure: broadcast-sized
    codebooks load driver-side, the codes table scans off parquet (no
    retrain/re-encode anywhere on the query path), tombstones mask the
    scan (M1). Runs the scan eagerly — two Spark jobs — and returns
    (rank, id, cos) as a local relation."""
    from ..operators.pq import ann_topk_pq

    books, codes = pq_load(spark, index_dir)
    return ann_topk_pq(
        embeddings, query_vec, k=k, rerank=rerank, codes=codes,
        codebooks=books, deleted=vector_tombstones(spark, index_dir),
        id_col=id_col, vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# SQ8 structure
# ---------------------------------------------------------------------------

def sq8_build(
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Persist the SQ8 structure: per-dimension (min, scale) params + the
    1 B/dim codes table. Serving then scans codes per query batch instead
    of re-running the min/max aggregate + re-encode per call."""
    from ..operators.similarity import sq8_encode, sq8_train

    mn, scale = sq8_train(embeddings, vec_col)
    write_local(
        arrow_rows(
            [(int(i), float(a), float(b)) for i, (a, b) in enumerate(zip(mn, scale))],
            "i int, mn double, scale double",
        ),
        index_dir, "params", mode="overwrite",
    )
    sq8_encode(embeddings, mn, scale, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "codes"))
    _write_manifest(index_dir, "sq8", dim=len(mn))
    return mn, scale


def sq8_read_params(spark: SparkSession, index_dir: str) -> tuple[np.ndarray, np.ndarray]:
    tbl = _read_required(index_dir, "params").sort_by("i")
    return (
        tbl["mn"].to_numpy().astype(np.float64),
        tbl["scale"].to_numpy().astype(np.float64),
    )


def sq8_load(
    spark: SparkSession, index_dir: str
) -> tuple[tuple[np.ndarray, np.ndarray], DataFrame]:
    read_manifest(spark, index_dir)  # version gate
    return sq8_read_params(spark, index_dir), read_codes(spark, index_dir)


def sq8_extend(
    new_embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors encoded under the EXISTING per-dim params. A new
    value outside the trained [min, max] clips to the range edge (bounded
    error absorbed by the exact rerank); refine = ``sq8_build`` over the
    current corpus."""
    from ..operators.similarity import sq8_encode

    spark = new_embeddings.sparkSession
    mn, scale = sq8_read_params(spark, index_dir)
    delta = sq8_encode(new_embeddings, mn, scale, id_col, vec_col)
    n = delta.count()
    delta.write.mode("append").parquet(os.path.join(index_dir, "codes"))
    return int(n)


def sq8_drift(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """SQ8 analog of :func:`pq_drift` (r4 verdict #7): ``sq8_extend``
    CLIPS values outside the trained per-dim [min, max] silently (bounded
    error, absorbed by the exact rerank) — this is the health metric that
    makes that silence visible. Over a bounded deterministic sample of the
    CURRENT corpus it reports the fraction of (vector, dim) values that
    fall outside the trained range (``clip_fraction`` — exactly the values
    ``sq8_encode`` would clamp) and the worst overshoot in code units
    (``max_overshoot_codes`` — how many 1/255 steps beyond the edge).
    A fresh build measures 0.0 by construction (params ARE the corpus
    min/max), so any nonzero fraction after extends means the distribution
    moved; refine (``sq8_build`` over the current corpus) clears it.
    Same implied health-check idiom as the PQ refine loop
    (ProductQuantization.java:159-196)."""
    mn, scale = sq8_read_params(spark, index_dir)
    pdf = (
        embeddings.select(id_col, vec_col).orderBy(id_col)
        .limit(int(sample_size)).toPandas()
    )
    if len(pdf) == 0:
        return {"clip_fraction": 0.0, "max_overshoot_codes": 0.0, "n_sampled": 0}
    X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    codes = (X - mn) / scale  # pre-clip code coordinates
    overshoot = np.maximum(np.maximum(-codes, codes - 255.0), 0.0)
    # 1e-6 code units of tolerance: a value AT the trained edge reproduces
    # float rounding noise (~1e-14 codes), not a clip — a real clamp loses
    # at least a representable fraction of a 1/255 step
    overshoot[overshoot < 1e-6] = 0.0
    return {
        "clip_fraction": float((overshoot > 0).mean()),
        "max_overshoot_codes": float(overshoot.max()),
        "n_sampled": int(len(X)),
    }


def ann_topk_sq8_indexed(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase SQ8 top-k against the persisted params + codes,
    tombstones masked off the scan. Runs the scan eagerly — two Spark
    jobs — and returns (rank, id, cos) as a local relation."""
    from ..operators.similarity import ann_topk_sq8

    params, codes = sq8_load(spark, index_dir)
    return ann_topk_sq8(
        embeddings, query_vec, k=k, rerank=rerank, codes=codes, params=params,
        deleted=vector_tombstones(spark, index_dir),
        id_col=id_col, vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# BQ structure (1 bit/dim — the memory-floor tier)
# ---------------------------------------------------------------------------

def bq_build(
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the BQ structure: sign-bit codes at dim/8 bytes per vector
    (BinaryQuantization.java:88-110's packed-long layout as a parquet
    binary column). No trained parameters — the manifest records only the
    dimension. Returns the number of vectors encoded."""
    from pyspark.sql import Observation

    from ..operators.bq import bq_encode

    first = embeddings.select(vec_col).first()
    dim = len(first[0]) if first else 0
    # count observed on the encode write itself — a separate read-back
    # count() job would re-scan the codes table for a number the write
    # already saw
    obs = Observation("bq_build_n")
    codes = bq_encode(embeddings, id_col, vec_col).observe(
        obs, F.count("*").alias("n")
    )
    codes.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    n = int(obs.get["n"])
    _write_manifest(index_dir, "bq", dim=dim)
    return n


def bq_load(spark: SparkSession, index_dir: str) -> tuple[int, DataFrame]:
    man = read_manifest(spark, index_dir)
    return int(man["dim"]), read_codes(spark, index_dir)


def bq_extend(
    new_embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append sign-bit codes (no parameters → extend is always exact)."""
    from ..operators.bq import bq_encode

    delta = bq_encode(new_embeddings, id_col, vec_col)
    n = delta.count()
    delta.write.mode("append").parquet(os.path.join(index_dir, "codes"))
    return int(n)


def ann_topk_bq_indexed(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase BQ top-k against the persisted sign-bit codes,
    tombstones masked off the scan. Runs the scan eagerly — two Spark
    jobs — and returns (rank, id, cos) as a local relation."""
    from ..operators.bq import ann_topk_bq

    _, codes = bq_load(spark, index_dir)
    return ann_topk_bq(
        embeddings, query_vec, k=k, rerank=rerank, codes=codes,
        deleted=vector_tombstones(spark, index_dir),
        id_col=id_col, vec_col=vec_col,
    )


# ---------------------------------------------------------------------------
# NVQ structure (per-vector nonuniform 8/4-bit — the compressed RERANK tier)
# ---------------------------------------------------------------------------

def nvq_build(
    embeddings: DataFrame,
    index_dir: str,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist the NVQ structure: per-vector (min, range, warp-rate)
    params inline with the packed codes (NVQuantization.java:583-638's
    serialized QuantizedSubVector layout as parquet columns). There is NO
    trained corpus state — the manifest records only (dim, bits) — so
    extend ≡ rebuild exactly and nothing can drift. Returns the number of
    vectors encoded; ``m`` in the manifest carries ``bits``."""
    from pyspark.sql import Observation

    from ..operators.nvq import nvq_encode

    first = embeddings.select(vec_col).first()
    dim = len(first[0]) if first else 0
    # count observed on the encode write (same as bq_build: no read-back)
    obs = Observation("nvq_build_n")
    codes = nvq_encode(embeddings, bits, id_col, vec_col).observe(
        obs, F.count("*").alias("n")
    )
    codes.write.mode("overwrite").parquet(os.path.join(index_dir, "codes"))
    n = int(obs.get["n"])
    _write_manifest(index_dir, "nvq", dim=dim, m=bits)
    return n


def nvq_load(spark: SparkSession, index_dir: str) -> tuple[int, DataFrame]:
    """(bits, codes) from the persisted structure — the serve path."""
    man = read_manifest(spark, index_dir)
    return int(man["m"]), read_codes(spark, index_dir)


def nvq_extend(
    new_embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append NVQ codes. Every parameter is per-vector, so — uniquely
    among the compressed tiers — extend is EXACTLY a fresh build of the
    union (no stale codebooks like PQ, no clipping like SQ8); there is no
    drift metric because there is nothing shared to drift."""
    from ..operators.nvq import nvq_encode

    spark = new_embeddings.sparkSession
    bits = int(read_manifest(spark, index_dir)["m"])
    delta = nvq_encode(new_embeddings, bits, id_col, vec_col)
    n = delta.count()
    delta.write.mode("append").parquet(os.path.join(index_dir, "codes"))
    return int(n)


def ann_topk_nvq_indexed(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase NVQ top-k against the persisted codes, tombstones masked
    off the scan. Runs the scan eagerly — two Spark jobs — and returns
    (rank, id, cos) as a local relation."""
    from ..operators.nvq import ann_topk_nvq

    bits, codes = nvq_load(spark, index_dir)
    return ann_topk_nvq(
        embeddings, query_vec, k=k, rerank=rerank, codes=codes, bits=bits,
        deleted=vector_tombstones(spark, index_dir),
        id_col=id_col, vec_col=vec_col,
    )


def ann_topk_pq_nvq_indexed(
    spark: SparkSession,
    pq_dir: str,
    nvq_dir: str,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """The reference's COMPRESSED-ONLY serving pipeline: PQ ADC first pass
    selects candidates, NVQ codes rerank them — raw float vectors are
    never read anywhere on the query path (the Grid.java search
    configuration that pairs a PQ searcher with an NVQ reranker;
    NVQScorer.java scores candidates off the codes). Scores are
    quantized-precision cosines: recall vs the exact scan is a pytest
    floor, not a hash contract — the operator exists for the scan-byte
    budget (m B + ~dim B per vector vs 4·dim B raw)."""
    from ..operators.nvq import nvq_rerank
    from ..operators.pq import PQ_RERANK_FACTOR, PQ_RERANK_FLOOR, pq_approx_scores
    from ..operators.similarity import ann_candidates

    if rerank is None:
        rerank = max(PQ_RERANK_FLOOR, PQ_RERANK_FACTOR * k)
    books, pq_codes = pq_load(spark, pq_dir)
    bits, nvq_codes = nvq_load(spark, nvq_dir)
    cand_ids = ann_candidates(
        pq_approx_scores(pq_codes, books, query_vec, id_col), rerank,
        vector_tombstones(spark, pq_dir), id_col,
    )
    return nvq_rerank(nvq_codes, cand_ids, query_vec, k=k, bits=bits, id_col=id_col)
