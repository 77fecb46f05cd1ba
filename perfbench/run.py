"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts a ``local[nproc]``
Spark session, sets the workload up, measures it for ``--seconds``, checks
every answer against an independent oracle and prints, as its last line,
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, read from Spark's status stores around each call,
and the run's spans and call records go to ``.perfbench_work/traces/``.

Everything it writes stays under ``.perfbench_work/`` in the checkout.
Exit status: 0 when every answer is right, 1 when some answer is wrong, 2
when the run could not be set up (no result line then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1  # the held-out seed is in perfbench/README.md


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve_mixed", "ann_serve"))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep Spark's scratch, the JVM's temp files and the Python workers'
    temp files inside the work dir. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until it has
    exited; the Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _check_records(records: list[dict], attempted: int) -> None:
    """The traced run's own invariants: one record per timed call, and
    driver time plus the stage union equal to each call's wall time."""
    timed = sum(r["phase"] == "timed" for r in records)
    if timed != attempted:
        raise RuntimeError(f"{timed} timed records for {attempted} timed calls")
    for r in records:
        if abs(r["driver_ms"] + r["stage_union_ms"] - r["wall_ms"]) > 1e-6:
            raise RuntimeError(f"record {r['request_id']} does not add up to its wall time")


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "jvector_spark", "__init__.py")):
        print(f"no jvector_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{a.workload}-s{a.seed}-{os.getpid()}")
    os.makedirs(work)
    _isolate(work)

    try:
        return _run(a, work_root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(a, work_root: str, work: str) -> int:
    import inputs
    import layers
    import workloads
    from sparktrace import SparkTracer

    inp = (inputs.text_inputs if a.workload == "serve_mixed"
           else inputs.vector_inputs)(a.seed, work)

    from jvector_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    t0 = time.time()
    spark = get_spark(cores=cores,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_s = time.time() - t0
    try:
        tracer = SparkTracer(spark, cores) if a.trace else None
        calls = workloads.Calls(tracer)
        stat0, w0 = workloads.proc_stat(), time.time()
        try:
            res = workloads.WORKLOADS[a.workload](
                spark, calls, inp, a.seconds, work, bool(a.trace))
        except workloads.SetupFailed as e:
            print(f"set-up failed: {e}", file=sys.stderr)
            return 2
        stat1, w1 = workloads.proc_stat(), time.time()
    finally:
        _stop(spark)

    host = {"busy_core_s": stat1[0] - stat0[0], "steal_core_s": stat1[1] - stat0[1],
            "wall_s": w1 - w0}
    attempted = len(calls.timed)
    failed = sum(not c["ok"] for c in calls.timed) + sum(
        1 for phase, _ in res["wrong"] if phase == "timed")
    correct = failed == 0 and not res["wrong"]

    e2e = {"setup_s": session_s + res["setup_calls_s"]}
    e2e.update((k, res[k]) for k in layers.END_TO_END if k != "setup_s")
    print(f"# workload={a.workload} seed={a.seed} seconds={a.seconds} "
          f"trace={a.trace} cores={cores} session_s={session_s:.3f}")
    for line in res["report"]:
        print(f"# {line}")
    for phase, msg in res["wrong"]:
        print(f"# WRONG ({phase}): {msg}")
    print(f"# ops_failed_frac={failed / max(attempted, 1):.4f} "
          f"({failed}/{attempted})")
    print(f"# host (diagnostic): busy_core_s={host['busy_core_s']:.2f} "
          f"steal_core_s={host['steal_core_s']:.2f} over {host['wall_s']:.1f} s")
    for k, v in e2e.items():
        print(f"# {k}={v:.6g} {layers.END_TO_END[k]}")
    print(f"# read_cpu_ms={res['read_cpu_ms']:.6g} core-ms read_p50_ms="
          f"{res['read_p50_ms']:.6g} ms ops_per_s={res['ops_per_s']:.6g} 1/s "
          "(not gated; wall clock moves with host contention)")

    if a.trace:
        _check_records(tracer.records, attempted)
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{a.workload}-s{a.seed}.jsonl"))
        values, units = layers.per_layer(tracer.records, res, host), layers.PER_LAYER
    else:
        values, units = e2e, layers.END_TO_END
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
