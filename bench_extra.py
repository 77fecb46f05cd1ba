#!/usr/bin/env python
"""Round-6 optimization harness (bench.py is FROZEN for measurement —
this file carries the extra instrumentation the optimization round needs).

Modes:

  python bench_extra.py headline [--repeat N] [--only a,b,c]
      Re-create bench.run_headline's timed region (same session shape,
      same build order, same .count() materialization) and print one JSON
      object of per-entry seconds. --repeat times each HEADLINE query N
      extra times after the bench-identical cold pass, so cold (bench-
      visible) vs warm (steady-state) cost can be separated.

  python bench_extra.py plans [--only a,b,c] [--out plans/r06 --suffix _before]
      Write .explain("formatted") for every declared query to
      plans/<out>/<name><suffix>.txt (builds warmed first so the plans are
      the serve-time plans the bench times).

All timings use the same $SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS contract
as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BUILDS = [
    ("index_build", "_index_for"),
    ("positions_build", "_positions_index_for"),
    ("ivf_build", "_ivf_index_for"),
    ("pq_build", "_pq_index_for"),
    ("sq8_build", "_sq8_index_for"),
    ("bq_build", "_bq_index_for"),
    ("nvq_build", "_nvq_index_for"),
]


def _headline(argv: list[str]) -> None:
    import __spark_entry__ as entry_mod
    from bench import HEADLINE

    from jvector_spark.session import get_spark

    repeat = 0
    only = None
    if "--repeat" in argv:
        repeat = int(argv[argv.index("--repeat") + 1])
    if "--only" in argv:
        only = set(argv[argv.index("--only") + 1].split(","))

    spark = get_spark(cores=CPUS, app_name="jv_bench_extra")
    qs = entry_mod.audit_queries()
    out: dict = {"sf": SF_DIR, "cpus": CPUS, "cold": {}, "warm": {}}
    for tag, attr in BUILDS:
        t0 = time.perf_counter()
        getattr(entry_mod, attr)(spark, SF_DIR)
        out["cold"][tag] = round(time.perf_counter() - t0, 4)
    names = [n for n in HEADLINE if only is None or n in only]
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"cold:{name}")
        t0 = time.perf_counter()
        fn(spark, SF_DIR).count()
        out["cold"][name] = round(time.perf_counter() - t0, 4)
    for r in range(repeat):
        for name in names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"warm{r}:{name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).count()
            dt = round(time.perf_counter() - t0, 4)
            out["warm"].setdefault(name, []).append(dt)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out, indent=1))
    spark.stop()


def _plans(argv: list[str]) -> None:
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as entry_mod

    from jvector_spark.session import get_spark

    only = None
    if "--only" in argv:
        only = set(argv[argv.index("--only") + 1].split(","))
    out_dir = os.path.join(REPO, "plans", "r06")
    if "--out" in argv:
        out_dir = os.path.join(REPO, argv[argv.index("--out") + 1])
    suffix = "_before"
    if "--suffix" in argv:
        suffix = argv[argv.index("--suffix") + 1]
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(cores=CPUS, app_name="jv_plans")
    for _, attr in BUILDS:
        getattr(entry_mod, attr)(spark, SF_DIR)
    qs = entry_mod.audit_queries()
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {name}{suffix}.txt", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: {e}", file=sys.stderr)
    spark.stop()


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in ("headline", "plans"):
        print(__doc__)
        sys.exit(2)
    if sys.argv[1] == "headline":
        _headline(sys.argv[2:])
    else:
        _plans(sys.argv[2:])


if __name__ == "__main__":
    main()
