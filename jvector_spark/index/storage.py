"""Index storage layout — "Iceberg-shaped" Parquet tables.

The v1 sandbox image has no iceberg-spark-runtime jar, so the index is laid
out as plain Parquet directories with the exact table schemas an Iceberg
catalog would hold (SURVEY.md §7 M2 errata: decide Parquet-vs-Iceberg at M2
start — decided: Parquet, same layout; swapping the writer for
``df.writeTo(...).append()`` is a one-liner once the jar exists).

Layout (reference analog: the versioned on-disk graph format,
jvector-base/.../graph/disk/OnDiskGraphIndex.java:72, CommonHeader.java:59-152):

    <index_dir>/
      segments/       1 row: format_version, n_docs, avgdl, k1, b,
                      block_size, token_pattern   (the header/footer analog)
      dictionary/     term, term_id, df, cf, n_salts
      postings/       part_id, term_id, salt, block_id, n, base,
                      max_doc_id, max_tf, min_dl,
                      doc_ids_packed, tfs_packed, dls_packed
                      — block-max metadata FUSED inline with the packed
                      payload (one scan serves prune+score, the analog of
                      FusedPQ packing neighbor codes with adjacency,
                      graph/disk/feature/FusedPQ.java:75-122); Parquet column
                      pruning lets meta-only scans skip the binary columns,
                      so no separate block_meta table is materialized.
      doc_stats/      doc_id, dl
      doc_map/        doc_id + the source's natural-key columns
      build_lineage/  part_id, docs_indexed, postings_emitted,
                      bytes_compressed, status  (one row per built part,
                      the resume unit — the analog of OnHeapGraphIndex
                      save/load + CheckpointManager,
                      GraphIndexBuilder.java:865-969)

``postings/`` is hive-partitioned by ``part_id`` (a deterministic hash
bucket of (term_id, salt)) so query-time term lookups prune directories —
the analog of jvector only seeking the adjacency regions the search
touches. On a doc-partitioned index (``index.docpart``) ``part_id`` is a
doc-range bucket instead, and a term's blocks lie in every bucket;
:func:`postings_parts` is the one place a read tells the two apart, and
:func:`part_id_col` the one place a write does.

Driver-sized tables go through Arrow on the driver; Spark jobs are only for
corpus-sized tables. The segments row, the tombstone set and the lineage
rows are read with pyarrow straight from the index directory
(:func:`read_local`), and every relation built from driver-local rows
(query relations, bucket and offset maps) is an Arrow local relation
(:func:`local_relation`), which Spark scans without a job or a Python
worker, even when it is empty. Driver-sized rows are written the same
way, with pyarrow and no job (:func:`write_local`): the segments row,
tombstone appends, lineage rows, every table of a driver-sized build
(its postings one file per ``part_id=`` directory,
:func:`write_local_parts`), a driver-sized extend's postings,
doc_stats and doc_map delta, a driver-sized dictionary rewrite, the
vector tiers' manifests, parameters and codebooks, a driver-sized vector
build's or extend's codes (IVF's one file per ``cluster=`` directory),
and the streaming and sharded metadata rows. An append adds one file; an overwrite writes a
hidden sibling directory that carries Spark's ``_SUCCESS`` marker and
swaps it in (:func:`swap_in`). Every rewrite of a whole table (this one,
the Spark side of an extend's dictionary rewrite, and compaction's
postings, doc_stats, doc_map and dictionary) is staged in such a sibling
(:func:`staged_dir`) and swapped in by that one helper, which renames the
live table aside before it deletes anything, so a failure part-way
leaves every table whole, old or new; compaction drops the tombstones
the same way (:func:`drop_table`). Index directories are therefore
driver-visible paths. Engine-owned corpus-sized tables (postings, positions, dictionary, doc_stats) are read
with their known schema (:data:`TABLE_SCHEMAS`), so opening one plans no
schema-inference job. An aggregate the Parquet footers already hold is
read from them, not computed by a job: ``extend_index`` takes the
dictionary's max term_id from its row-group statistics
(:func:`footer_max`). An extend's delta vocabulary is delta-sized, so it
is resolved on the driver against its existing (term_id, n_salts), and
fresh term ids are numbered there. The dictionary rewrite is
vocabulary-sized: it runs on the driver when the dictionary's data files
are small (the rule in ``index.extend``), and in Spark otherwise.

A query's own slice of the index is driver-sized too. Every indexed read
looks its terms up in the dictionary with a pyarrow dataset filter on
``term`` (:func:`read_dictionary`), not with a Spark scan. A read whose
matched postings and part files are small (the rule in ``index.query``)
then reads only the ``postings/part_id=…`` directories that hold its
terms (:func:`postings_parts`, :func:`postings_files`), with a ``term_id``
filter (:func:`read_files`), and runs no Spark job at all. Larger reads
scan the same directories with Spark, with the same ``term_id`` filter.

The persisted vector tiers (``index.vectors``) follow the same rule: the
manifest, SQ8 params, PQ codebooks and vector tombstones are read with
:func:`read_local`, and the corpus-sized codes table is opened with the
schema in its own footer (:func:`local_schema`).
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

# v2: posting blocks carry (max_tf, min_dl); the BM25 block upper bound is
# derived at query time from current global stats, so incremental extends /
# compactions that change n_docs/avgdl/df never leave stale baked bounds
# (v1 stored a build-time max_score_bound).
FORMAT_VERSION = 2

TABLES = ("segments", "dictionary", "postings", "doc_stats", "doc_map", "build_lineage")

POSTINGS_SCHEMA = (
    "term_id long, salt int, block_id int, n int, base long, max_doc_id long, "
    "max_tf long, min_dl long, doc_ids_packed binary, "
    "tfs_packed binary, dls_packed binary"
)

# the positional feature's blocks (index.positions), hashed by part_id
POSITIONS_SCHEMA = (
    "term_id long, salt int, block_id int, n int, base long, max_doc_id long, "
    "n_occ int, doc_ids_packed binary, counts_packed binary, positions_packed binary"
)

# the schemas the engine writes its corpus-sized tables with, as Spark would
# infer them back (postings' hive partition column last); passing them to
# the reader skips the footer-sampling job an inferred read plans
TABLE_SCHEMAS = {
    "postings": POSTINGS_SCHEMA + ", part_id int",
    "positions": POSITIONS_SCHEMA + ", part_id int",
    "dictionary": "term string, term_id long, df long, cf long, n_salts int",
    "doc_stats": "doc_id long, dl long",
}

LINEAGE_SCHEMA = (
    "part_id int, docs_indexed long, postings_emitted long, "
    "bytes_compressed long, status string"
)


def table_path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def shuffle_n(df: DataFrame) -> int:
    """The session's configured shuffle-partition count, for EXPLICIT
    ``repartition(n, cols...)`` on the CPU-heavy Arrow-encode exchanges.

    Why explicit: AQE's ``coalescePartitions`` targets shuffle-BYTE balance
    (advisory 64 MB) and is blind to downstream cost per byte. The encode
    stages pipe each partition through a Python/Arrow worker whose varint
    packing costs ~10-100x more CPU per byte than a JVM scan, so letting
    AQE coalesce them serializes the build's dominant CPU work (measured:
    the sf0.1 encode stage coalesced 32 -> 10 tasks and became 75 % of
    build wall; at 1000 executors the same coalesce would idle most of the
    cluster). ``spark.sql.shuffle.partitions`` is already sized to the
    data / cluster (docs/SCALE.md), so pinning the exchange to it keeps
    the configured parallelism without disabling AQE elsewhere."""
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))


# target occurrence rows per encode task: ~100 ms of vectorized varint
# work — enough to amortize the fixed task cost (scheduling + Arrow
# round-trip + python worker dispatch, ~0.1-0.2 s). Above the ceiling the
# configured shuffle-partition count (sized to the cluster) still rules.
ENCODE_ROWS_PER_TASK = 262_144


def sized_shuffle_n(df: DataFrame, approx_rows: float | None) -> int:
    """Scale-adaptive partition count for the CPU-heavy Arrow-encode
    exchanges: derived from the input size (guide idiom — never a
    constant tuned to one box), with the session's configured
    shuffle-partition count as the CEILING so cluster-scale inputs keep
    their full configured parallelism. A kilobyte input gets one task
    instead of paying the full configured task count in fixed overheads
    (on a cold session each task also spawns a python worker).
    ``approx_rows=None`` falls back to the configured count."""
    n = shuffle_n(df)
    if approx_rows is None or approx_rows <= 0:
        return n
    return max(1, min(n, -(-int(approx_rows) // ENCODE_ROWS_PER_TASK)))


# The one sizing rule of every ingest: a build's or an extend's input (the
# BM25 builds' tokenized projection; a vector tier's, or an exact cosine
# scan's, (id, vector) projection) is collected to the driver with one
# ``toArrow`` job and processed there when the Catalyst size estimate of
# that projection (for a Parquet scan, the files' bytes scaled to those
# columns) is at most this constant; a larger one runs in Spark. A BM25
# build over an empty base and an extend over a live one run the same
# driver body, so one cap sizes both, and the vector tiers use it as is.
#
# Speed sets no cap: on local[4], transcript deltas into a copy of a
# 6,000-turn index, the driver side was faster at every measured size, from
# 400 turns (17 KB; 2.3 core-s) to 400,000 (14 MB; 12.0 core-s). The
# Spark side, ``build._build`` over the base, took 20.1 and 51.1 core-s at
# those sizes (CPU of the process tree: driver, JVM, Python workers; the
# first Spark-side extend in a fresh process, so the 400-turn figure
# includes the workers' start). serve_mixed's cold build of 6,000 turns ran
# 1 job in 4.4 s on the driver side against the Spark side's 27 jobs in
# 11.7 s. Driver memory does. Measured on BM25 extends (order_cols and
# doc_map_cols set; peak RSS of the driver's Python process during the
# extend, above its level before it):
#     turns  estimate  collected Arrow  peak RSS
#     2,000     64 KB                     22 MB
#    30,000    0.9 MB                    171 MB
#   100,000    3.0 MB          17 MB     480 MB
#   200,000    5.9 MB          34 MB    1.07 GB
# The peak is ~180x the estimate; the collect itself (~6x) is also bounded
# by spark.driver.maxResultSize (1 GB by default), past which the toArrow
# job fails before anything is written. The cap holds the peak near 0.75 GB,
# under that same 1 GB. A vector ingest peaks far lower: its rows are
# only sorted, fitted and encoded. Measured on 12,500 64-dim float vectors
# in one Parquet file (estimate 3.7 MB, just under the cap), one call per
# fresh process, peak RSS above the level before the call: SQ8 build 28
# MB, PQ 100 MB, BQ 20 MB, NVQ 62 MB, IVF 45 MB, exact scan 19 MB, at most
# ~27x the estimate. A higher vector cap would fit; no workload needs it.
# The Spark side is the fallback for what the driver cannot hold: larger
# inputs, and plans Spark cannot size (an RDD scan estimates at
# Long.MaxValue). No benchmark workload runs above the cap, so the two
# sides' costs there are unmeasured.
DRIVER_MAX_INGEST_BYTES = 1 << 22


def driver_sized(sel: DataFrame) -> bool:
    """The ingest sizing rule: the projection ``sel``'s Catalyst
    ``sizeInBytes`` (file sizes for a file scan; no job) is at most
    :data:`DRIVER_MAX_INGEST_BYTES`."""
    est = int(sel._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    return est <= DRIVER_MAX_INGEST_BYTES


def _ddl_cols(schema: str) -> list[str]:
    """The ``name type`` items of a DDL schema string, splitting only on
    top-level commas (``array<double>`` etc. stay intact)."""
    cols, depth, cur = [], 0, []
    for ch in schema:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            cols.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    cols.append("".join(cur).strip())
    return cols


def local_relation(
    spark: SparkSession, rows: list | pd.DataFrame, schema: str
) -> DataFrame:
    """DataFrame over driver-local rows, handed to Spark as an Arrow table
    (:func:`arrow_rows`). ``rows`` is a list of tuples, or a pandas frame
    holding the schema's columns.

    Spark turns an Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by default)
    into a ``LocalRelation``, an empty one included: collecting it runs no
    job (broadcasting it still runs one), and nothing crosses into a
    Python worker. A pandas frame or a list would not: an empty pandas
    frame becomes an RDD scan (one job to collect), and
    ``createDataFrame(list)`` pickles the rows into ``defaultParallelism``
    slices that every scan unpickles in Python-worker tasks. Raises
    ``ValueError`` (before Spark is touched) when a row's arity differs
    from the schema's column count."""
    if isinstance(rows, pd.DataFrame):
        sch = arrow_schema(schema)
        tbl = pa.Table.from_pandas(rows[sch.names], sch, preserve_index=False)
    else:
        tbl = arrow_rows(rows, schema)
    return spark.createDataFrame(tbl, schema)


# the Arrow types of the DDL types in the schemas of driver-side rows; each
# is written as the Parquet type Spark writes for it
_ARROW_TYPES = {
    "tinyint": pa.int8(), "smallint": pa.int16(), "int": pa.int32(),
    "long": pa.int64(), "bigint": pa.int64(), "float": pa.float32(),
    "double": pa.float64(), "boolean": pa.bool_(), "string": pa.string(),
    "binary": pa.binary(),
}


def _arrow_type(typ: str) -> pa.DataType:
    if typ.startswith("array<") and typ.endswith(">"):
        return pa.list_(_arrow_type(typ[len("array<"):-1].strip()))
    return _ARROW_TYPES[typ]


def arrow_schema(schema: str) -> pa.Schema:
    """The Arrow schema of a DDL schema string (scalar and array columns)."""
    return pa.schema(
        pa.field(name, _arrow_type(typ))
        for name, typ in (col.split(None, 1) for col in _ddl_cols(schema))
    )


def arrow_rows(rows: list, schema: str) -> pa.Table:
    """Driver-local rows (tuples) as an Arrow table of a DDL ``schema``,
    for :func:`write_local` and :func:`local_relation`. Raises
    ``ValueError`` when a row's arity differs from the schema's column
    count."""
    sch = arrow_schema(schema)
    for i, row in enumerate(rows):
        if len(row) != len(sch):
            raise ValueError(
                f"row {i} has {len(row)} values for {len(sch)} columns "
                f"({', '.join(sch.names)})"
            )
    cols = list(zip(*rows)) if rows else [() for _ in sch]
    return pa.table([pa.array(c, f.type) for c, f in zip(cols, sch)], schema=sch)


def write_local(table: pa.Table, index_dir: str, name: str,
                mode: str = "append") -> None:
    """Write driver-sized rows to a table as one Parquet file, with pyarrow
    on the driver (no Spark job). The file is written under a ``.``-name,
    which readers skip, and renamed into place once complete.
    ``mode="append"`` adds the file to the table directory (created when
    absent). ``mode="overwrite"`` writes it to a hidden sibling directory
    with Spark's ``_SUCCESS`` marker, which streaming resume tests for,
    and swaps that directory in for the table."""
    path = table_path(index_dir, name)
    if mode == "append":
        os.makedirs(path, exist_ok=True)
        _write_file(table, path)
        return
    if mode != "overwrite":
        raise ValueError(f"unknown write mode {mode!r}")
    write_local_parts({"": table}, index_dir, name)


def write_local_parts(parts: dict, index_dir: str, name: str) -> None:
    """Overwrite table ``name`` with one Parquet file per subdirectory
    (``parts`` maps a directory name such as ``part_id=3``, or ``""`` for
    the table directory itself, to its rows), written with pyarrow on the
    driver (no Spark job) to a hidden sibling directory that carries
    Spark's ``_SUCCESS`` marker and swapped in (:func:`swap_in`)."""
    new = staged_dir(index_dir, name)
    os.makedirs(new)
    for sub, table in parts.items():
        path = os.path.join(new, sub)
        os.makedirs(path, exist_ok=True)
        _write_file(table, path)
    open(os.path.join(new, "_SUCCESS"), "wb").close()
    swap_in(new, index_dir, name)


def _hidden_sibling(index_dir: str, name: str, suffix: str) -> str:
    parent, base = os.path.split(table_path(index_dir, name))
    return os.path.join(parent, f".{base}.{uuid.uuid4().hex}.{suffix}")


def staged_dir(index_dir: str, name: str) -> str:
    """A fresh path beside table ``name`` to write its replacement to
    before :func:`swap_in`. Its ``.``-name is skipped by every reader, so a
    write that fails half-way leaves nothing a read opens."""
    return _hidden_sibling(index_dir, name, "new")


def swap_in(staged: str, index_dir: str, name: str) -> None:
    """Replace table ``name`` with the complete directory ``staged`` (from
    :func:`staged_dir`): the live directory is renamed aside to a hidden
    name, ``staged`` is renamed into its place, and only then is the old
    copy deleted. A failure while deleting it leaves the live table whole
    (the new one) and the rest of the old one under its hidden name; a
    crash between the two renames leaves the whole old table there."""
    old = _set_aside(index_dir, name)
    os.rename(staged, table_path(index_dir, name))
    if old is not None:
        shutil.rmtree(old)


def drop_table(index_dir: str, name: str) -> None:
    """Delete table ``name``, if present, as :func:`swap_in` deletes a
    replaced one: renamed aside first, so a failure part-way leaves no
    part of it live."""
    old = _set_aside(index_dir, name)
    if old is not None:
        shutil.rmtree(old)


def _set_aside(index_dir: str, name: str) -> str | None:
    """Rename table ``name`` to a fresh hidden sibling; return that path,
    or None when the table is absent."""
    path = table_path(index_dir, name)
    if not os.path.exists(path):
        return None
    old = _hidden_sibling(index_dir, name, "old")
    os.rename(path, old)
    return old


def _write_file(table: pa.Table, directory: str) -> None:
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(directory, "." + name)
    # zstd, the codec the session sets for Spark's own Parquet writes;
    # timestamps as INT96, Spark's default Parquet timestamp type; no pandas
    # or Arrow schema metadata in the footer (Spark ignores both). No
    # dictionary pages: Spark's writer drops a dictionary that does not pay
    # and pyarrow's keeps it, and on the engine's tables (distinct ids and
    # terms, packed blocks, codebook doubles) it rarely pays. Integer
    # columns are delta-encoded (DELTA_BINARY_PACKED, which Spark's readers
    # decode): ids and offsets ascend, so their deltas are small. On the
    # tests' 3,000-turn index (2 parts, local[4]) plain pages alone left the
    # postings 0.3 % larger than Spark's write of the same rows; with delta
    # integers the postings, doc_stats, doc_map and dictionary were 4 %,
    # 69 %, 84 % and 67 % smaller
    delta = {f.name: "DELTA_BINARY_PACKED" for f in table.schema
             if pa.types.is_integer(f.type)}
    pq.write_table(table.replace_schema_metadata(None), tmp,
                   compression="zstd", store_schema=False,
                   use_dictionary=False, column_encoding=delta or None,
                   use_deprecated_int96_timestamps=True)
    os.rename(tmp, os.path.join(directory, name))


# Spark's XxHash64 primes (sql/catalyst XXH64) — used to resolve
# pmod(xxhash64(term_id, salt), n_parts) driver-side without a Spark job
_XXH64_M = (1 << 64) - 1
_XXH64_P1 = 0x9E3779B185EBCA87
_XXH64_P2 = 0xC2B2AE3D27D4EB4F
_XXH64_P3 = 0x165667B19E3779F9
_XXH64_P4 = 0x85EBCA77C2B2AE63
_XXH64_P5 = 0x27D4EB2F165667C5


def _xxh64_rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH64_M


def _xxh64_fmix(h: int) -> int:
    h ^= h >> 33
    h = h * _XXH64_P2 & _XXH64_M
    h ^= h >> 29
    h = h * _XXH64_P3 & _XXH64_M
    h ^= h >> 32
    return h


def _xxh64_long(v: int, seed: int) -> int:
    h = (seed + _XXH64_P5 + 8) & _XXH64_M
    k1 = _xxh64_rotl((v & _XXH64_M) * _XXH64_P2 & _XXH64_M, 31) * _XXH64_P1 & _XXH64_M
    h ^= k1
    h = (_xxh64_rotl(h, 27) * _XXH64_P1 + _XXH64_P4) & _XXH64_M
    return _xxh64_fmix(h)


def _xxh64_int(v: int, seed: int) -> int:
    h = (seed + _XXH64_P5 + 4) & _XXH64_M
    h ^= (v & 0xFFFFFFFF) * _XXH64_P1 & _XXH64_M
    h = (_xxh64_rotl(h, 23) * _XXH64_P2 + _XXH64_P3) & _XXH64_M
    return _xxh64_fmix(h)


def hash_part_id(term_id: int, salt: int, n_parts: int) -> int:
    """``pmod(xxhash64(term_id :: long, salt :: int), n_parts)`` computed
    in pure Python, bit-exact with the Catalyst expression (seed 42; long
    column hashed as 8 bytes, int column as 4 — equality with Spark is
    pytest-enforced). Query paths use this to resolve the pruned part set
    for a handful of (term, salt) pairs driver-side; the throwaway
    local-relation Spark job it replaces cost ~0.5 s of fixed scheduling
    per query call."""
    h = _xxh64_int(salt, _xxh64_long(term_id, 42))
    if h >= 1 << 63:
        h -= 1 << 64  # Spark's hash is a SIGNED long; pmod of it
    return h % n_parts  # python % already yields the positive residue


def hash_parts(pairs, n_parts: int) -> list[int]:
    """Distinct sorted part ids for (term_id, salt) pairs (see
    :func:`hash_part_id`)."""
    return sorted({hash_part_id(int(t), int(s), int(n_parts)) for t, s in pairs})


def term_parts(terms, n_parts: int) -> list[int]:
    """Distinct sorted part ids holding every salt of the ``(term_id,
    n_salts)`` pairs ``terms``, resolved driver-side: the hashed part set
    (``positions/`` on both layouts, see :func:`postings_parts`)."""
    return hash_parts(((t, s) for t, n in terms for s in range(int(n))), n_parts)


def postings_parts(seg: dict, terms) -> list[int]:
    """The ``postings/part_id=…`` directories holding the blocks of the
    ``(term_id, n_salts)`` pairs ``terms`` on the index with segments row
    ``seg``, every read's one layout decision: all ``n_parts`` doc buckets
    on a doc-partitioned index, else the hashed :func:`term_parts`."""
    if seg.get("layout") == "doc":
        return list(range(int(seg["n_parts"])))
    return term_parts(terms, seg["n_parts"])


def part_id_col(seg: dict) -> Column:
    """The ``postings/`` part of a (term_id, salt) row on the index with
    segments row ``seg``, every write's one layout decision (the twin of
    :func:`postings_parts`): the salt, which is the doc bucket, on a
    doc-partitioned index, else ``pmod(xxhash64(term_id, salt), n_parts)``
    (:func:`hash_part_id`)."""
    if seg.get("layout") == "doc":
        return F.col("salt")
    return F.pmod(F.xxhash64("term_id", "salt"), F.lit(int(seg["n_parts"]))).cast("int")


def ids_in(id_col: str, ids: list[int]) -> Column:
    """``id_col IN (ids)``, parsed from one SQL string: ``Column.isin``
    makes one Py4J call per literal, ~0.3 s of driver time for a
    512-id rerank window. An empty list is ``false``. Negated, it is the
    tombstone mask every read path applies: a filter, not a broadcast
    anti-join, because broadcasting even a local relation runs a Spark job
    of its own."""
    if not ids:
        return F.lit(False)
    return F.expr(f"`{id_col}` IN ({', '.join(str(int(i)) for i in ids)})")


def write_table(df: DataFrame, index_dir: str, name: str, mode: str = "overwrite",
                partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(table_path(index_dir, name))


def read_table(spark: SparkSession, index_dir: str, name: str) -> DataFrame:
    """Spark scan of a table; engine-owned tables use their known schema."""
    reader = spark.read
    if name in TABLE_SCHEMAS:
        reader = reader.schema(TABLE_SCHEMAS[name])
    return reader.parquet(table_path(index_dir, name))


def _data_files(index_dir: str, name: str) -> list[str]:
    """A table's data files, sorted; files starting with ``_`` or ``.``
    (``_SUCCESS``, checksums) are skipped, as Spark's reader skips them."""
    path = table_path(index_dir, name)
    if not os.path.isdir(path):
        return []
    return [
        os.path.join(path, f)
        for f in sorted(os.listdir(path))
        if not f.startswith(("_", "."))
    ]


def read_local(index_dir: str, name: str) -> pa.Table | None:
    """A driver-sized table read with pyarrow on the driver (no Spark job),
    or None when the directory is absent or holds no data file."""
    files = _data_files(index_dir, name)
    if not files:
        return None
    # files of one table may differ in nullability (Spark writes count(*)
    # as non-null, pyarrow appends nullable columns)
    return pa.concat_tables((pq.read_table(f) for f in files), promote_options="default")


def read_required(index_dir: str, name: str) -> pa.Table:
    """:func:`read_local` for a table that must hold rows; raises
    ``FileNotFoundError`` naming the table otherwise."""
    tbl = read_local(index_dir, name)
    if tbl is None or tbl.num_rows == 0:
        raise FileNotFoundError(f"no {name} rows under {index_dir}")
    return tbl


def read_files(files: list[str], columns: list[str] | None, filter=None) -> pa.Table:
    """``columns`` (None: all) of the rows of Parquet ``files`` that pass
    the pyarrow ``filter`` expression, read on the driver (no Spark job).
    Files may hold their columns in different orders; they are matched by
    name."""
    return ds.dataset(files, format="parquet").to_table(
        columns=columns, filter=filter
    )


def read_dictionary(index_dir: str, filter) -> pa.Table:
    """The dictionary rows (term, term_id, df, n_salts) that pass a pyarrow
    ``filter`` (on ``term`` or ``term_id``): every indexed read's term
    lookup, with no Spark job."""
    return read_files(
        _data_files(index_dir, "dictionary"),
        ["term", "term_id", "df", "n_salts"],
        filter,
    )


def postings_files(index_dir: str, parts: list[int]) -> list[str]:
    """The data files of the ``postings/part_id=…`` directories of
    ``parts``, the same files a Spark scan pruned to those part ids reads."""
    return [
        f
        for p in parts
        for f in _data_files(index_dir, os.path.join("postings", f"part_id={int(p)}"))
    ]


def local_schema(index_dir: str, name: str) -> StructType | None:
    """The Spark schema of a table, from its first data file's footer
    (pyarrow on the driver), or None when it holds no data file. Passing
    it to ``spark.read.schema`` skips the schema-inference job, and it is
    right for whatever id column name the table was written with."""
    files = _data_files(index_dir, name)
    if files and os.path.isdir(files[0]):
        # written partitionBy: the first partition directory's files hold
        # the data columns, and Spark adds the partition column from the
        # directory names
        files = _data_files(files[0], "")
    return from_arrow_schema(pq.read_schema(files[0])) if files else None


def footer_max(index_dir: str, name: str, column: str) -> int | None:
    """Max of an integer column over a table's data files, read from the
    Parquet footers' row-group statistics on the driver (no Spark job, no
    data page read), or None when the table holds no row. A row group
    written without statistics has its column read instead."""
    best = None
    for f in _data_files(index_dir, name):
        pf = pq.ParquetFile(f)
        md = pf.metadata
        j = md.schema.names.index(column)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            if rg.num_rows == 0:
                continue
            st = rg.column(j).statistics
            if st is not None and st.has_min_max:
                v = st.max
            else:
                v = pc.max(pf.read_row_group(i, columns=[column])[column]).as_py()
            if v is not None and (best is None or v > best):
                best = int(v)
    return best


def _segments(index_dir: str) -> tuple[pa.Table, dict]:
    tbl = read_local(index_dir, "segments")
    if tbl is None or tbl.num_rows == 0:
        raise FileNotFoundError(f"no segments row under {index_dir}")
    return tbl, tbl.slice(0, 1).to_pylist()[0]


def read_segments(spark: SparkSession, index_dir: str) -> dict:
    """The single segments row as a plain dict (header metadata), with the
    Python types Spark's ``Row.asDict`` would give."""
    return _segments(index_dir)[1]


def update_segments(spark: SparkSession, index_dir: str, **updates) -> dict:
    """Rewrite the single segments row with ``updates`` applied and EVERY
    other column preserved verbatim — layout-agnostic (a doc-partitioned
    index's extra ``layout``/``bucket_width`` columns survive any stats or
    parameter refresh). This is the only sanctioned way to rewrite
    ``segments``: re-emitting a fixed column list would silently strip a
    newer layout's columns and corrupt query dispatch."""
    tbl, seg = _segments(index_dir)
    unknown = set(updates) - set(seg)
    if unknown:
        raise KeyError(f"unknown segments column(s): {sorted(unknown)}")
    seg.update(updates)
    write_local(
        pa.Table.from_pylist([seg], tbl.schema.remove_metadata()),
        index_dir, "segments", mode="overwrite",
    )
    return seg


def tombstone_ids(spark: SparkSession, index_dir: str) -> set[int] | None:
    """The current tombstone set (deleted doc_ids, or vec_ids for a vector
    structure: the table's one column), or None if empty/absent.
    Driver-side set is intentional: reads mask it with a ``NOT IN`` filter
    (:func:`ids_in`) or a numpy mask in the WAND kernel, the same way the
    reference keeps deletions as an in-memory bitset (OnHeapGraphIndex
    deletedNodes; marked via GraphIndexBuilder.java:681-683). A set too
    large to inline in every read's plan is the signal to compact."""
    tbl = read_local(index_dir, "tombstones")
    if tbl is None:
        return None
    return set(pc.unique(tbl.column(0)).to_pylist()) or None


def lineage_totals(index_dir: str) -> tuple[int, int]:
    """(postings_emitted, bytes_compressed) summed over the build_lineage
    rows; (0, 0) when there are none."""
    tbl = read_local(index_dir, "build_lineage")
    if tbl is None:
        return 0, 0
    return (
        int(pc.sum(tbl["postings_emitted"]).as_py() or 0),
        int(pc.sum(tbl["bytes_compressed"]).as_py() or 0),
    )


def block_meta(spark: SparkSession, index_dir: str) -> DataFrame:
    """Meta-only view over the fused postings table; Parquet column pruning
    means this scan never reads the packed binary columns."""
    return read_table(spark, index_dir, "postings").select(
        "term_id", "salt", "block_id", "n", "base", "max_doc_id", "max_tf",
        "min_dl",
    )
