"""Persisted compressed-vector index structures: PQ / SQ8 / BQ / NVQ /
IVF tiers with an on-disk layout, load path, incremental extend,
tombstone delete, drift metric, and refine (retrain + re-encode).

Reference analogs: the reference persists and reuses trained PQ across
runs instead of retraining per query (Grid.java:681-719 ``pq_cache``,
README.md:266 "you can serialize/deserialize the PQVectors"), ships
committed format goldens (TestProductQuantization.java:216-231,
``version0.pq``), refines codebooks on changed data
(ProductQuantization.java:159-196 ``refine``), and offers a 1-bit
Binary Quantization tier as the cheapest memory point
(BinaryQuantization.java:88-110, BQVectors.java:95-118).

On-disk layout (one directory per structure, all parquet — same
conventions as the text index's format v2):

- ``manifest/``   one row: (version, kind, dim, m, k, dsub, train_mse)
- ``codebooks/``  PQ: (subspace, cluster, centroid array<double>)
- ``params/``     SQ8: (i, mn, scale) per dimension
- ``centroids/``  IVF: (cluster, centroid array<double>), k rows
- ``codes/``      (vec_id, codes binary) — m B (PQ), dim B (SQ8),
                  dim/8 B (BQ), dim·bits/8 B + 3 doubles inline (NVQ,
                  per-vector params — NVQuantization.java:583-638)
                  per vector; IVF: (vec_id) under ``cluster=c/``
                  directories (written ``partitionBy``, the tier's
                  ``partition_by``)
- ``cluster_sizes/`` IVF: (cluster, n) live-count deltas, summed on read
- ``tombstones/`` optional (vec_id) appended by ``vector_delete``

One lifecycle serves every tier: a tier is a record
(``operators.similarity.Tier``: params, fit, encode kernel, score kernel,
default rerank depth), and :func:`build`, :func:`load`, :func:`extend`
and :func:`serve` are the one body each; the ``<tier>_build`` /
``_load`` / ``_extend`` / ``ann_topk_<tier>_indexed`` names bind it. IVF
runs the same build, extend and delete bodies; its query probes the
nearest clusters and reranks their live vectors (:func:`ivf_topk_indexed`).

Driver-sized tables go through Arrow on the driver (the ``index.storage``
rule): the manifest, params, codebooks and tombstones are read with
pyarrow and run no Spark job, and ``codes/`` is opened with the schema in
its own footer, so no schema-inference job is planned either. A build or
extend sizes its input by the one ingest rule
(``storage.driver_sized``): a driver-sized input is collected once
(``similarity.vector_input``), and the fit, the tier's encode kernel and
the pyarrow writes of every table run on the driver, 1 Spark job and no
Python worker; a larger one fits in Spark, encodes in a ``mapInPandas``
and counts its rows on the codes write itself. Both sides write the same
rows. A query runs the shared
two-phase path (``operators.similarity.ann_topk_tier``), and one sizing
rule on the bytes of the ``codes/`` data files (:data:`DRIVER_MAX_CODE_BYTES`)
picks where its first pass runs: under it, pyarrow reads the codes with
the tombstones masked at the read and the per-batch top-k body runs on the
driver, so the one Spark job is the fetch of the candidates' raw vectors;
above it, the same body runs in a ``mapInPandas`` over the codes scan, a
second job. ``ann_topk_pq_nvq_indexed`` reads both of its structures
through the same rule and, under it, runs no Spark job.
"""

from __future__ import annotations

import os
from collections import Counter
from functools import partial

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.bq import BQ
from ..operators.nvq import NVQ
from ..operators.pq import PQ, pq_sample_mse
from ..operators.similarity import (
    IVF,
    SQ8,
    Tier,
    VectorRows,
    _read_codes,
    ann_topk_tier,
    cosine_rows,
    encode_codes,
    encode_rows,
    rerank_pass,
    sample_matrix,
    topk_pass,
    topk_relation,
    unit,
    vector_input,
)
from .storage import (
    _data_files,
    arrow_rows,
    ids_in,
    local_relation,
    local_schema,
    read_local,
    read_required,
    table_path,
    tombstone_ids,
    write_local,
    write_local_parts,
)

FORMAT_VERSION = 1
TIERS = {t.kind: t for t in (SQ8, PQ, BQ, NVQ)}  # the tiers :func:`serve` scores

# The sizing rule of a tier read: its first pass runs on the driver when
# the ``codes/`` data files total under this many bytes, otherwise in
# Spark. Measured on local[4] (4 cores), ``topk_pass`` of one query at the
# default depth with 5% of the rows tombstoned, over a structure built from
# n clustered 64-dim vectors (2 codes files); median of 5 interleaved
# driver/Spark pairs, ms:
#   n       SQ8 MB drv/spk   PQ MB drv/spk   BQ MB drv/spk   NVQ MB drv/spk
#    25k    1.6   61/500     0.25  24/499    0.19  25/435    2.0    87/460
#   100k    6.3  221/551     0.96  85/418    0.69  85/377    8.0   441/591
#   400k   25.1  867/923     3.8  357/605    2.7  306/567   31.9 1688/1543
# The driver costs ~35 (SQ8), ~45-55 (NVQ), ~90 (PQ) and ~115-130 (BQ)
# ms per MB of codes, a per-row cost that a tier with fewer bytes per row
# pays on more rows; the Spark path is ~0.4-0.6 s fixed at these sizes.
# So the crossover is near 5 MB for BQ and PQ and above 8 MB for SQ8 and
# NVQ; 4 MB keeps every tier on the winning side, and also bounds what one
# read pulls into the driver process.
DRIVER_MAX_CODE_BYTES = 1 << 22


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


def read_manifest(spark: SparkSession, index_dir: str) -> dict:
    """The manifest row as a plain dict (the Python types ``Row.asDict``
    gives); raises on a format version newer than this engine."""
    d = read_required(index_dir, "manifest").slice(0, 1).to_pylist()[0]
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


def _small_codes(files: list[str]) -> bool:
    """The read sizing rule: code files totalling under
    :data:`DRIVER_MAX_CODE_BYTES` are read with pyarrow on the driver."""
    return sum(os.path.getsize(f) for f in files) < DRIVER_MAX_CODE_BYTES


def _codes(spark: SparkSession, index_dir: str) -> DataFrame | list[str]:
    """What a query's passes read the codes from: their data files (read
    with pyarrow on the driver, appended extend files included) when they
    are driver-sized, else the Spark scan."""
    files = _data_files(index_dir, "codes")
    if files and _small_codes(files):
        return files
    return read_codes(spark, index_dir)


def _dead(spark: SparkSession, index_dir: str) -> list[int]:
    return sorted(tombstone_ids(spark, index_dir) or ())


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


def _write_codes(
    tier: Tier, src: DataFrame | VectorRows, params, index_dir: str, mode: str,
    id_col: str, vec_col: str, **encode_kw,
) -> int:
    """Encode ``src`` and write (``mode`` "overwrite" or "append") it to
    ``codes/``, split into directories by the tier's ``partition_by``
    column; returns the rows written. Collected :class:`VectorRows` are
    encoded on the driver (:func:`encode_rows`) and written with pyarrow,
    one file per table or per partition directory, no job. A DataFrame
    runs the encode kernel in Spark and is written ``partitionBy``, its
    row count observed on the write itself, so the encode runs once."""
    if isinstance(src, VectorRows):
        tbl = encode_rows(tier, src, params, id_col, **encode_kw)
        if not tier.partition_by:
            write_local(tbl, index_dir, "codes", mode=mode)
            return tbl.num_rows
        (col,) = tier.partition_by
        parts = {
            f"{col}={v}": tbl.filter(pc.equal(tbl[col], v)).drop_columns([col])
            for v in np.unique(tbl[col].to_numpy()).tolist()
        }
        if mode == "overwrite":
            write_local_parts(parts, index_dir, "codes")
        else:
            for sub, part in parts.items():
                write_local(part, table_path(index_dir, "codes"), sub)
        return tbl.num_rows
    obs = Observation(f"{tier.kind}_codes_n")
    encode_codes(tier, src, params, id_col, vec_col, **encode_kw).observe(
        obs, F.count("*").alias("n")
    ).write.mode(mode).partitionBy(*tier.partition_by).parquet(
        os.path.join(index_dir, "codes")
    )
    return int(obs.get["n"])


def build(
    tier: Tier,
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_kw: dict | None = None,
    encode_kw: dict | None = None,
):
    """Fit the tier once, persist its params, encode the corpus once —
    the serve-time query path is then one codes scan per query batch (the
    Grid.java:681-719 pq_cache idiom; the anti-pattern this replaces is
    retraining + re-encoding per call). A driver-sized corpus
    (:func:`~jvector_spark.operators.similarity.vector_input`) is
    collected once, and the fit, the encode and every write run on the
    driver: 1 Spark job. Returns (params, rows encoded)."""
    src = vector_input(embeddings, id_col, vec_col)
    params, fields = tier.fit(src, id_col, vec_col, **(fit_kw or {}))
    if tier.write_params is not None:
        tier.write_params(params, index_dir)
    n = _write_codes(tier, src, params, index_dir, "overwrite",
                     id_col, vec_col, **(encode_kw or {}))
    _write_manifest(index_dir, tier.kind, **fields)
    return params, n


def load(tier: Tier, spark: SparkSession, index_dir: str) -> tuple:
    """(params, codes) from the persisted structure — the serve path; the
    manifest read is the version gate."""
    params = tier.read_params(index_dir, read_manifest(spark, index_dir))
    return params, read_codes(spark, index_dir)


def extend(
    tier: Tier,
    new_embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append vectors encoded under the EXISTING params (B10 —
    buildAndMergeNewNodes: insert into the existing structure); a
    driver-sized delta is collected, encoded and appended on the driver,
    as :func:`build` does. 1 Spark job either way. Returns the number of
    vectors appended."""
    spark = new_embeddings.sparkSession
    params = tier.read_params(index_dir, read_manifest(spark, index_dir))
    return _write_codes(tier, vector_input(new_embeddings, id_col, vec_col), params,
                        index_dir, "append", id_col, vec_col)


def serve(
    tier: Tier,
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase top-k against the persisted structure, tombstones masked
    off the codes read (M1). Runs eagerly and returns (rank, id, cos) as a
    local relation: one Spark job, the fetch of the candidates' raw
    vectors, when the codes are under :data:`DRIVER_MAX_CODE_BYTES` (the
    first pass runs on the driver), else two (the codes scan in Spark)."""
    params = tier.read_params(index_dir, read_manifest(spark, index_dir))
    return ann_topk_tier(
        tier, embeddings, query_vec, k, rerank, _codes(spark, index_dir), params,
        _dead(spark, index_dir), id_col, vec_col,
    )


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
    """Train codebooks, encode the corpus and persist both; returns the
    codebooks. ``anisotropic_eta`` switches the encoder to anisotropic
    coordinate-descent code assignment (ProductQuantization.java:244-424's
    accuracy-per-byte variant): reconstruction error parallel to the
    vector is weighted ``eta`` × the orthogonal error."""
    return build(
        PQ, embeddings, index_dir, id_col, vec_col,
        fit_kw=dict(m=m, n_clusters=n_clusters, n_iters=n_iters, seed=seed),
        encode_kw=dict(anisotropic_eta=anisotropic_eta),
    )[0]


def pq_read_codebooks(spark: SparkSession, index_dir: str) -> np.ndarray:
    return PQ.read_params(index_dir, read_manifest(spark, index_dir))


def pq_load(spark: SparkSession, index_dir: str) -> tuple[np.ndarray, DataFrame]:
    """(codebooks, codes)."""
    return load(PQ, spark, index_dir)


def pq_extend(new_embeddings: DataFrame, index_dir: str, id_col: str = "vec_id",
              vec_col: str = "embedding") -> int:
    """Append vectors encoded under the EXISTING codebooks: extend ≡
    rebuild-with-same-codebooks; distribution drift accumulates silently
    — monitor with :func:`pq_drift` and fold back in with
    :func:`pq_refine`."""
    return extend(PQ, new_embeddings, index_dir, id_col, vec_col)


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
    books = PQ.read_params(index_dir, man)
    cur = pq_sample_mse(embeddings, books, id_col, vec_col, sample_size)
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
    man = read_manifest(embeddings.sparkSession, index_dir)
    return pq_build(
        embeddings, index_dir, m=man["m"], n_clusters=man["k"],
        n_iters=n_iters, seed=seed, id_col=id_col, vec_col=vec_col,
        anisotropic_eta=anisotropic_eta,
    )


def ann_topk_pq_indexed(spark: SparkSession, index_dir: str, embeddings: DataFrame,
                        query_vec: list[float], k: int = 10, rerank: int | None = None,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Two-phase PQ top-k against the persisted structure (:func:`serve`)."""
    return serve(PQ, spark, index_dir, embeddings, query_vec, k, rerank, id_col, vec_col)


# ---------------------------------------------------------------------------
# SQ8 structure
# ---------------------------------------------------------------------------

def sq8_build(
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """Persist the per-dimension (min, scale) params + the 1 B/dim codes;
    returns (mn, scale)."""
    return build(SQ8, embeddings, index_dir, id_col, vec_col)[0]


def sq8_read_params(spark: SparkSession, index_dir: str) -> tuple[np.ndarray, np.ndarray]:
    return SQ8.read_params(index_dir, read_manifest(spark, index_dir))


def sq8_load(
    spark: SparkSession, index_dir: str
) -> tuple[tuple[np.ndarray, np.ndarray], DataFrame]:
    """((mn, scale), codes)."""
    return load(SQ8, spark, index_dir)


def sq8_extend(new_embeddings: DataFrame, index_dir: str, id_col: str = "vec_id",
               vec_col: str = "embedding") -> int:
    """Append vectors encoded under the EXISTING per-dim params. A new
    value outside the trained [min, max] clips to the range edge (bounded
    error absorbed by the exact rerank; :func:`sq8_drift` makes it
    visible); refine = ``sq8_build`` over the current corpus."""
    return extend(SQ8, new_embeddings, index_dir, id_col, vec_col)


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
    the encoder would clamp) and the worst overshoot in code units
    (``max_overshoot_codes`` — how many 1/255 steps beyond the edge).
    A fresh build measures 0.0 by construction (params ARE the corpus
    min/max), so any nonzero fraction after extends means the distribution
    moved; refine (``sq8_build`` over the current corpus) clears it.
    Same implied health-check idiom as the PQ refine loop
    (ProductQuantization.java:159-196)."""
    mn, scale = sq8_read_params(spark, index_dir)
    X = sample_matrix(embeddings, sample_size, id_col, vec_col)
    if len(X) == 0:
        return {"clip_fraction": 0.0, "max_overshoot_codes": 0.0, "n_sampled": 0}
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


def ann_topk_sq8_indexed(spark: SparkSession, index_dir: str, embeddings: DataFrame,
                         query_vec: list[float], k: int = 10, rerank: int | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Two-phase SQ8 top-k against the persisted structure (:func:`serve`)."""
    return serve(SQ8, spark, index_dir, embeddings, query_vec, k, rerank, id_col, vec_col)


# ---------------------------------------------------------------------------
# BQ structure (1 bit/dim — the memory-floor tier)
# ---------------------------------------------------------------------------

def bq_build(
    embeddings: DataFrame,
    index_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Persist sign-bit codes at dim/8 bytes per vector
    (BinaryQuantization.java:88-110's packed-long layout as a parquet
    binary column). No trained parameters — the manifest records only the
    dimension. Returns the number of vectors encoded."""
    return build(BQ, embeddings, index_dir, id_col, vec_col)[1]


def bq_load(spark: SparkSession, index_dir: str) -> tuple[int, DataFrame]:
    """(dim, codes)."""
    return load(BQ, spark, index_dir)


def bq_extend(new_embeddings: DataFrame, index_dir: str, id_col: str = "vec_id",
              vec_col: str = "embedding") -> int:
    """Append sign-bit codes (no parameters → extend is always exact)."""
    return extend(BQ, new_embeddings, index_dir, id_col, vec_col)


def ann_topk_bq_indexed(spark: SparkSession, index_dir: str, embeddings: DataFrame,
                        query_vec: list[float], k: int = 10, rerank: int | None = None,
                        id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Two-phase BQ top-k against the persisted structure (:func:`serve`)."""
    return serve(BQ, spark, index_dir, embeddings, query_vec, k, rerank, id_col, vec_col)


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
    """Persist per-vector (min, range, warp-rate) params inline with the
    packed codes (NVQuantization.java:583-638's serialized
    QuantizedSubVector layout as parquet columns). There is NO trained
    corpus state — the manifest records only (dim, bits), ``m`` carrying
    ``bits`` — so extend ≡ rebuild exactly and nothing can drift. Returns
    the number of vectors encoded."""
    return build(NVQ, embeddings, index_dir, id_col, vec_col,
                 fit_kw=dict(bits=bits))[1]


def nvq_load(spark: SparkSession, index_dir: str) -> tuple[int, DataFrame]:
    """(bits, codes)."""
    return load(NVQ, spark, index_dir)


def nvq_extend(new_embeddings: DataFrame, index_dir: str, id_col: str = "vec_id",
               vec_col: str = "embedding") -> int:
    """Append NVQ codes. Every parameter is per-vector, so — uniquely
    among the compressed tiers — extend is EXACTLY a fresh build of the
    union (no stale codebooks like PQ, no clipping like SQ8)."""
    return extend(NVQ, new_embeddings, index_dir, id_col, vec_col)


def ann_topk_nvq_indexed(spark: SparkSession, index_dir: str, embeddings: DataFrame,
                         query_vec: list[float], k: int = 10, rerank: int | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Two-phase NVQ top-k against the persisted structure (:func:`serve`)."""
    return serve(NVQ, spark, index_dir, embeddings, query_vec, k, rerank, id_col, vec_col)


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
    NVQScorer.java scores candidates off the codes). The shared two-phase
    path with NVQ's kernel as the second-phase scorer; scores are
    quantized-precision cosines, so recall vs the exact scan is a pytest
    floor, not a hash contract — the operator exists for the scan-byte
    budget (m B + ~dim B per vector vs 4·dim B raw). Each structure is
    read through :func:`serve`'s sizing rule: when both are under
    :data:`DRIVER_MAX_CODE_BYTES`, the PQ pass and the NVQ fetch of the
    candidates' rows are pyarrow reads and no Spark job runs."""
    books = pq_read_codebooks(spark, pq_dir)
    bits = NVQ.read_params(nvq_dir, read_manifest(spark, nvq_dir))
    Q = np.asarray([query_vec], dtype=np.float64)
    depth = PQ.rerank(k) if rerank is None else int(rerank)
    cands = topk_pass(_codes(spark, pq_dir), partial(PQ.score, params=books), Q, depth,
                      _dead(spark, pq_dir), id_col)
    hits = rerank_pass(_codes(spark, nvq_dir), partial(NVQ.score, params=bits), Q,
                       cands, k, id_col)
    return topk_relation(spark, hits, id_col)


# ---------------------------------------------------------------------------
# IVF structure (coarse quantizer: codes partitioned by cluster)
# ---------------------------------------------------------------------------

# The sizing rule of an IVF query: up to this many probed live ids (the
# ``cluster_sizes`` sidecar) are read with pyarrow and reranked through one
# ``IN`` fetch of their raw vectors, ~60 µs per id on local[4]; above it
# the join runs in Spark, 1-2.6 s up to 80k vectors. The bound keeps the
# driver side the faster one and bounds its ``IN`` list (docs/SCALE.md).
IVF_DRIVER_MAX_PROBED = 1 << 14


def _cluster_files(index_dir: str) -> dict[int, list[str]]:
    """The data files of each ``codes/cluster=c/`` directory, by c."""
    codes = table_path(index_dir, "codes")
    if not os.path.isdir(codes):
        return {}
    return {
        int(name.split("=", 1)[1]): _data_files(codes, name)
        for name in os.listdir(codes)
        if name.startswith("cluster=")
    }


def _write_cluster_sizes(counts, index_dir: str, mode: str = "append") -> None:
    """(cluster, n) count deltas to the k-row sidecar, with pyarrow; no
    deltas write nothing."""
    if counts:
        write_local(arrow_rows(sorted((int(c), int(n)) for c, n in counts),
                               "cluster int, n long"), index_dir, "cluster_sizes", mode=mode)


def _footer_counts(files: dict[int, list[str]]) -> list[tuple[int, int]]:
    """(cluster, rows) of code files, from their Parquet footers."""
    return [(c, sum(pq.read_metadata(f).num_rows for f in fs)) for c, fs in files.items() if fs]


def ivf_build(
    embeddings: DataFrame,
    index_dir: str,
    n_clusters: int | None = None,
    n_iters: int = 10,
    seed: int = 77,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Train and persist the IVF structure (:func:`build`): ``centroids/``,
    ``codes/`` partitioned by cluster, and the k-row ``cluster_sizes``
    sidecar counted from the files' footers. ``n_clusters`` defaults to
    ≈√N, the classic IVF operating point (the number of rows collected,
    or a count job on the Spark side). Returns the centroid matrix."""
    cents = build(IVF, embeddings, index_dir, id_col, vec_col,
                  fit_kw=dict(n_clusters=n_clusters, n_iters=n_iters, seed=seed))[0]
    _write_cluster_sizes(_footer_counts(_cluster_files(index_dir)), index_dir, "overwrite")
    return cents


def ivf_read_centroids(spark: SparkSession, index_dir: str) -> np.ndarray:
    return IVF.read_params(index_dir, read_manifest(spark, index_dir))


def ivf_cluster_sizes(spark: SparkSession, index_dir: str) -> dict[int, int]:
    """Per-cluster LIVE vector counts: the sum of the ``cluster_sizes``
    deltas build, extend and delete append, read with pyarrow (no Spark
    job). Raises ``FileNotFoundError`` when the sidecar is missing."""
    tbl = read_required(index_dir, "cluster_sizes").group_by("cluster").aggregate([("n", "sum")])
    return dict(zip(tbl["cluster"].to_pylist(), tbl["n_sum"].to_pylist()))


def ivf_extend(new_embeddings: DataFrame, index_dir: str, id_col: str = "vec_id",
               vec_col: str = "embedding") -> int:
    """Append vectors assigned to the EXISTING centroids (:func:`extend`;
    buildAndMergeNewNodes, GraphIndexBuilder.java:1015-1057), so extend ≡
    rebuild-with-the-same-centroids. The sidecar's deltas come from the
    appended files' footers: the collect (driver-sized) or the append is
    the one Spark job."""
    before = {f for fs in _cluster_files(index_dir).values() for f in fs}
    n = extend(IVF, new_embeddings, index_dir, id_col, vec_col)
    new = {c: [f for f in fs if f not in before] for c, fs in _cluster_files(index_dir).items()}
    _write_cluster_sizes(_footer_counts(new), index_dir)
    return n


def ivf_delete(spark: SparkSession, index_dir: str, ids, id_col: str = "vec_id") -> None:
    """:func:`vector_delete` of the ids not already dead, and their
    clusters' negative deltas in the sidecar. The clusters are looked up
    under the codes sizing rule: a pyarrow read of each cluster's files
    (no Spark job), or an ``IN`` scan of the codes."""
    new = sorted({int(i) for i in ids} - (tombstone_ids(spark, index_dir) or set()))
    if not new:
        return
    vector_delete(spark, index_dir, new, id_col)
    files = _cluster_files(index_dir)
    if _small_codes([f for fs in files.values() for f in fs]):
        dead = {c: len(_read_codes(fs, id_col, new, keep=True)) for c, fs in files.items() if fs}
    else:
        dead = Counter(
            r[0] for r in read_codes(spark, index_dir)
            .filter(ids_in(id_col, new)).select("cluster").collect()
        )
    _write_cluster_sizes([(c, -n) for c, n in dead.items() if n], index_dir)


def ivf_topk_indexed(
    spark: SparkSession,
    index_dir: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int | None = 4,
    target_recall: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe-limited top-k: the live vectors of the ``n_probe`` clusters
    nearest the query are scored exactly (``cosine_rows``). Up to
    :data:`IVF_DRIVER_MAX_PROBED` probed live ids, pyarrow reads them from
    the probed ``cluster=c`` files and ``rerank_pass`` fetches their raw
    vectors (one Spark job); above it, the embeddings are joined to a
    codes scan whose ``cluster IN (probes)`` partition filter reads only
    those directories, and ``topk_pass`` keeps the top k in Spark. Both
    sides return the same rows and bits. Runs eagerly and returns (rank,
    id, cos) as a local relation.

    ``n_probe=None`` probes the nearest clusters until their live mass
    (the ``cluster_sizes`` sidecar) covers ``target_recall`` of the
    corpus: on near-uniform data recall ≈ probed fraction, so mass
    coverage is the honest guarantee knob, and on clustered data it
    over-probes benignly."""
    C = ivf_read_centroids(spark, index_dir)
    order = np.argsort(-(C @ unit(np.asarray(query_vec, dtype=np.float64))), kind="stable")
    sizes = ivf_cluster_sizes(spark, index_dir)
    if n_probe is None:  # the fewest nearest clusters whose mass covers the need
        mass = np.cumsum([sizes.get(int(c), 0) for c in order])
        n_probe = np.searchsorted(mass, float(target_recall) * max(1, sum(sizes.values()))) + 1
    probes = [int(c) for c in order[: int(n_probe)]]
    dead = _dead(spark, index_dir)
    by_cluster = _cluster_files(index_dir)
    files = [f for c in probes for f in by_cluster.get(c, ())]
    Q = np.asarray([query_vec], dtype=np.float64)
    vecs = embeddings.select(id_col, vec_col)
    score = partial(cosine_rows, vec_col=vec_col)
    if sum(sizes.get(c, 0) for c in probes) > IVF_DRIVER_MAX_PROBED:
        probed = read_codes(spark, index_dir).filter(F.col("cluster").isin(probes))
        hits = topk_pass(vecs.join(probed.select(id_col), id_col), score, Q, k, dead, id_col)
    else:
        ids = _read_codes(files, id_col, dead, keep=False)[id_col].to_numpy() if files else ()
        hits = rerank_pass(vecs, score, Q, [(ids, None)], k, id_col)
    return topk_relation(spark, hits, id_col, embeddings.schema[id_col].dataType.simpleString())
