"""Dense monotone id assignment without a single-partition global window.

Reference analog: sequential ordinal renumbering at index-write time
(jvector-base/.../graph/disk/AbstractGraphIndexWriter.java:146-159, surveyed
as B13): ids must be dense, start at 0, and follow a stable total order.

Scalable pattern (the classic zipWithIndex layout, but DataFrame-native):
  1. range-repartition by the order keys (non-overlapping, ordered ranges);
  2. count rows per partition (one tiny row per partition — safe to collect
     at any corpus scale, it is O(partitions) not O(rows));
  3. per-partition ``row_number`` window (parallel — each window partition is
     exactly one data partition) plus the partition's cumulative offset.

A naive ``row_number() OVER (ORDER BY ...)`` would funnel 10^12 rows through
one task; this computes the same answer with only per-partition sorts.
Order keys must be unique (e.g. (conv_id, turn_idx)) so the assignment is
deterministic regardless of where range boundaries fall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..index.storage import local_relation


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "doc_id",
    num_partitions: int | None = None,
    pins: list | None = None,
    pre_persist=None,
    n_out: list | None = None,
    max_of: dict | None = None,
    max_out: dict | None = None,
) -> DataFrame:
    """Add ``id_col``: dense int64 rank 0..N-1 over ``order_cols`` order.

    The internal persist (see comment below) is LOAD-BEARING for
    determinism, so it cannot be released inside this function — pass
    ``pins`` (a list) to receive the pinned DataFrame and call
    ``p.unpersist()`` on each entry AFTER the last action consuming the
    result (builders do this once their final table is written).

    ``pre_persist`` (optional ``DataFrame -> DataFrame``) transforms the
    range-partitioned frame BEFORE it is cached — the fusion hook that lets
    a builder tokenize and drop the raw text inside the one pass that
    populates the cache (the persisted relation is then the narrow token
    relation, not the full-text corpus — at 100 TB the difference between
    caching ~30% of the input and caching 130% of it). The projection MUST
    keep ``_pid`` and every ``order_cols`` column.

    ``n_out`` (a list) receives the total row count — the per-partition
    count collect already knows it, so callers that need N skip a
    separate count() job. ``max_of`` ({name: Column}) rides extra max
    aggregates on the same collect; ``max_out`` (a dict) receives the
    global maxima (None when the input is empty) — one more job saved
    for callers that need a driver-side bound (e.g. the build's pack
    plan)."""
    if num_partitions is None:
        num_partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        num_partitions = int(num_partitions)
    ranged = df.repartitionByRange(num_partitions, *[F.col(c) for c in order_cols])
    # RangePartitioner samples with a per-job seed, so boundaries can differ
    # between the count pass and the id pass — persist pins one concrete
    # partitioning for both (at cluster scale this would be a staging table
    # or StorageLevel.DISK_ONLY; the cost is one extra materialization,
    # exactly like the reference's two-pass renumber-then-write,
    # AbstractGraphIndexWriter.java:146-187).
    with_pid = ranged.withColumn("_pid", F.spark_partition_id())
    if pre_persist is not None:
        with_pid = pre_persist(with_pid)
    with_pid = with_pid.persist()
    if pins is not None:
        pins.append(with_pid)
    # One row per partition; collecting this is O(partitions), never O(rows).
    aggs = [F.count("*").alias("cnt")]
    for name, col in (max_of or {}).items():
        aggs.append(F.max(col).alias(f"_mx_{name}"))
    count_rows = with_pid.groupBy("_pid").agg(*aggs).collect()
    counts = {r["_pid"]: r["cnt"] for r in count_rows}
    if max_out is not None:
        for name in max_of or {}:
            vals = [
                r[f"_mx_{name}"]
                for r in count_rows
                if r[f"_mx_{name}"] is not None
            ]
            max_out[name] = max(vals) if vals else None
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if n_out is not None:
        n_out.append(acc)
    offsets_df = F.broadcast(
        local_relation(
            df.sparkSession,
            [(int(p), int(o)) for p, o in offsets.items()],
            "_pid int, _offset long",
        )
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_cols])
    return (
        with_pid.join(offsets_df, "_pid")
        .withColumn(id_col, (F.row_number().over(w) - 1 + F.col("_offset")).cast("long"))
        .drop("_pid", "_offset")
    )
