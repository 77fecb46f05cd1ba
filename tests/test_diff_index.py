"""``tools/diff_index.py`` compares tables by rows without a Spark
session; tables with a list column (PQ ``codebooks/``, IVF
``centroids/``), which Arrow cannot sort on, are compared too."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from tools.diff_index import compare, diff_dirs


def _write(path, rows, n_files: int = 1) -> None:
    path.mkdir(parents=True)
    tbl = pa.table({
        "cluster": pa.array([r[0] for r in rows], pa.int32()),
        "centroid": pa.array([r[1] for r in rows], pa.list_(pa.float64())),
    })
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        pq.write_table(tbl.slice(i * step, step), str(path / f"part-{i}.parquet"))


def test_tables_with_a_list_column_compare_by_rows(tmp_path):
    rows = [(2, [0.5, -1.0]), (0, [1.0, 2.0]), (1, [3.0, 4.0]), (1, [3.0, -4.0])]
    _write(tmp_path / "a" / "centroids", rows)
    # the same rows, split into two files in another order (two rows tie
    # on the sortable column)
    _write(tmp_path / "b" / "centroids", rows[::-1], n_files=2)
    assert diff_dirs(str(tmp_path / "a"), str(tmp_path / "b")) == {"centroids": True}

    changed = [(2, [0.5, -1.0]), (0, [1.0, 2.0]), (1, [3.0, 4.0]), (1, [3.0, -4.5])]
    _write(tmp_path / "c" / "centroids", changed)
    assert diff_dirs(str(tmp_path / "a"), str(tmp_path / "c")) == {"centroids": False}


def test_compare_names_the_differing_list_row():
    a = pa.table({"cluster": pa.array([0, 1], pa.int32()),
                  "centroid": pa.array([[1.0], [2.0]], pa.list_(pa.float64()))})
    b = pa.table({"cluster": pa.array([1, 0], pa.int32()),
                  "centroid": pa.array([[2.0], [1.5]], pa.list_(pa.float64()))})
    assert compare(a, a.take([1, 0])) is None
    assert compare(a, b) == (
        "sorted row 0 differs: {'centroid': [1.0], 'cluster': 0} != "
        "{'centroid': [1.5], 'cluster': 0}"
    )
