"""Driver-mimicking self-check: run every ``queries()`` entry on Spark and
its ``oracle_sql()`` on DuckDB at a given sf dir; compare row count, sorted
column names, and the order-insensitive multiset of values.

Usage: python tools/check_entry.py [sf_dir] [only_key ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# the check's session holds the sf tables' working set, not get_spark's 8g
# default (which is also -Xms); the same sizing as tests/conftest.py, and
# an explicit setting still wins
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
        elif df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from jvector_spark.session import get_spark

    # no console progress bar: its [Stage …] text would land at the start
    # of the OK/FAIL lines a status diff matches
    spark = get_spark(
        cores=8, shuffle_partitions=8, app_name="check_entry",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(sql).df()
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {ex}")
            n_fail += 1
            continue
        a, b = normalize(sdf), normalize(odf)
        status = None
        if list(a.columns) != list(b.columns):
            status = f"schema mismatch: {list(a.columns)} vs {list(b.columns)}"
        elif len(a) != len(b):
            status = f"row count {len(a)} vs {len(b)}"
        elif not a.equals(b):
            neq = (a != b).any(axis=1)
            ex_a = a[neq].head(3)
            ex_b = b[neq].head(3)
            status = f"values differ ({int(neq.sum())} rows)\nspark:\n{ex_a}\noracle:\n{ex_b}"
        if status:
            print(f"FAIL {name}: {status}")
            n_fail += 1
        else:
            print(f"OK   {name}: {len(a)} rows ({time.time()-t0:.1f}s)")

    # entry() smoke
    if not only:
        rows = e.entry(spark).count()
        print(f"entry(): {rows} rows")
    spark.stop()
    print("FAILURES:", n_fail)
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
