"""Compare two index directories table by table, by their rows.

Two Spark writes of the same rows do not give the same Parquet bytes, and
the same rows may be split across files differently. So each table is read
whole with pyarrow (hive ``key=value`` directories become columns), sorted
on every column but its list columns (which Arrow cannot sort on), and
compared row for row, list columns included. No Spark session is started.

Each equal table is also compared in file order: whether every partition
directory holds the same row sequences file by file (file names ignored,
since they carry a write's id). Readers that stop at the first rows of a
file, or prune row groups by a sort key, see the difference.

Usage: python tools/diff_index.py INDEX_A INDEX_B

or, from Python, ``diff_dirs(INDEX_A, INDEX_B)`` for {table: equal} and
``same_file_order(INDEX_A, INDEX_B)`` for {table: same file order}.

The command prints one line per table and exits 1 when any table differs
or exists on one side only, 0 when every table holds the same rows; a
file order difference alone is reported but does not change the exit
code.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def _skipped(name: str) -> bool:
    # Spark's reader skips _SUCCESS, _temporary, and .crc checksum files
    return name.startswith(("_", "."))


def _partition_value(text: str):
    try:
        return pa.scalar(int(text), pa.int32())
    except ValueError:
        return pa.scalar(text, pa.string())


def read_rows(table_dir: str) -> pa.Table | None:
    """Every row of a table directory, or None when it has no data file."""
    parts = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not _skipped(d))
        rel = os.path.relpath(root, table_dir)
        keys = [
            seg.split("=", 1) for seg in ([] if rel == "." else rel.split(os.sep))
        ]
        for f in sorted(files):
            if _skipped(f):
                continue
            t = pq.read_table(os.path.join(root, f))
            for k, v in keys:
                val = _partition_value(v)
                t = t.append_column(k, pa.array([val.as_py()] * t.num_rows, val.type))
            parts.append(t)
    if not parts:
        return None
    return pa.concat_tables(parts, promote_options="permissive")


def file_sequences(table_dir: str) -> dict[str, list]:
    """{partition directory: sorted list of its files' row sequences},
    each a tuple of rows over the file's columns in name order."""
    out: dict[str, list] = {}
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = sorted(d for d in dirs if not _skipped(d))
        seqs = []
        for f in files:
            if _skipped(f):
                continue
            t = pq.read_table(os.path.join(root, f))
            t = t.select(sorted(t.column_names))
            seqs.append(tuple(zip(*(c.to_pylist() for c in t.columns))))
        if seqs:
            out[os.path.relpath(root, table_dir)] = sorted(seqs)
    return out


def _order_note(dir_a: str, dir_b: str) -> tuple[str, bool]:
    fa, fb = file_sequences(dir_a), file_sequences(dir_b)
    bad = sorted(k for k in fa.keys() | fb.keys() if fa.get(k) != fb.get(k))
    if not bad:
        return "same file order", True
    return f"file order differs in {', '.join(bad)}", False


def _sorted(t: pa.Table, names: list[str]) -> pa.Table:
    """``t``'s columns ``names`` sorted on those that Arrow can sort: list
    columns (PQ codebooks, IVF centroids) cannot be sort keys, so they
    ride along and are compared with their rows."""
    t = t.select(names)
    keys = [n for n in names if not pa.types.is_list(t.schema.field(n).type)]
    return t.sort_by([(n, "ascending") for n in keys])


def _row_key(row: dict) -> tuple:
    # nulls first, lists as tuples, so any two rows compare
    return tuple((v is not None, tuple(v) if isinstance(v, list) else v)
                 for v in row.values())


def compare(a: pa.Table | None, b: pa.Table | None) -> str | None:
    """None when ``a`` and ``b`` hold the same rows, else why not."""
    if a is None or b is None:
        return None if a is b else "no data files on one side"
    if sorted(a.column_names) != sorted(b.column_names):
        return f"columns {sorted(a.column_names)} != {sorted(b.column_names)}"
    names = sorted(a.column_names)
    for n in names:
        if a.schema.field(n).type != b.schema.field(n).type:
            return f"column {n}: {a.schema.field(n).type} != {b.schema.field(n).type}"
    if a.num_rows != b.num_rows:
        return f"{a.num_rows} rows != {b.num_rows} rows"
    sa, sb = _sorted(a, names), _sorted(b, names)
    # column by column: a table's equality would also compare the fields'
    # nullability, which a Spark rewrite of the same rows can change
    if all(sa.column(n).equals(sb.column(n)) for n in names):
        return None
    if any(pa.types.is_list(sa.schema.field(n).type) for n in names):
        # rows tied on every sortable column may sit in either order:
        # compare the whole rows, list columns included, as sorted tuples
        ra = sorted(sa.to_pylist(), key=_row_key)
        rb = sorted(sb.to_pylist(), key=_row_key)
        if ra == rb:
            return None
        i = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y)
        return f"sorted row {i} differs: {ra[i]} != {rb[i]}"
    for i in range(sa.num_rows):
        ra, rb = sa.slice(i, 1).to_pylist()[0], sb.slice(i, 1).to_pylist()[0]
        if ra != rb:
            return f"sorted row {i} differs: {ra} != {rb}"
    return "rows differ"


def tables(index_dir: str) -> set[str]:
    return {
        d
        for d in os.listdir(index_dir)
        if not _skipped(d) and os.path.isdir(os.path.join(index_dir, d))
    }


def _table_diffs(dir_a: str, dir_b: str, order: bool = False):
    """(table, report line, equal, same file order) for every table of
    either directory; file order is compared only when ``order`` is set
    and the rows are equal (else it is False)."""
    for name in sorted(tables(dir_a) | tables(dir_b)):
        pa_, pb = os.path.join(dir_a, name), os.path.join(dir_b, name)
        if not (os.path.isdir(pa_) and os.path.isdir(pb)):
            where = dir_a if os.path.isdir(pa_) else dir_b
            yield name, f"{name}: only in {where}", False, False
            continue
        a, b = read_rows(pa_), read_rows(pb)
        why = compare(a, b)
        if why is not None:
            yield name, f"{name}: DIFFERENT: {why}", False, False
            continue
        line = f"{name}: equal ({0 if a is None else a.num_rows} rows)"
        same = False
        if order:
            note, same = _order_note(pa_, pb)
            line += f", {note}"
        yield name, line, True, same


def diff_dirs(dir_a: str, dir_b: str) -> dict[str, bool]:
    """{table: whether both index directories hold its same rows}, for
    every table of either directory."""
    return {name: equal for name, _, equal, _ in _table_diffs(dir_a, dir_b)}


def same_file_order(dir_a: str, dir_b: str) -> dict[str, bool]:
    """{table: whether both index directories hold its same rows in the
    same per-file sequences in every partition directory}."""
    return {
        name: same for name, _, _, same in _table_diffs(dir_a, dir_b, order=True)
    }


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print("usage: python tools/diff_index.py INDEX_A INDEX_B", file=sys.stderr)
        return 2
    bad = 0
    for _, line, equal, _ in _table_diffs(*argv, order=True):
        print(line)
        bad += not equal
    print("all tables equal" if not bad else f"{bad} table(s) differ")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
