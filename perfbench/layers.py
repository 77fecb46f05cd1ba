"""Metric names and units the benchmark reports, and the reduction of a
traced run's per-call records to one number per per-layer metric."""

from __future__ import annotations

from arith import median, percentile
from sparktrace import SESSION_KEYS

END_TO_END = {
    "setup_s": "s",
    "op_cpu_ms": "core-ms",
    "index_bytes_per_input_byte": "ratio",
}

# per-call numbers kept for each engine module; the full set is in the trace
CORE = ("wall_ms", "driver_ms", "jobs", "tasks", "executor_run_ms",
        "python_boot_ms", "python_total_ms", "shuffle_read_bytes", "input_bytes")
TIER_CORE = ("wall_ms", "driver_ms", "jobs", "executor_run_ms", "python_total_ms")
TIERS = ("sq8", "pq", "bq", "nvq")
STORAGE_TABLES = ("postings", "doc_map", "doc_stats", "dictionary", "tombstones")


def _unit(key: str) -> str:
    if key.endswith("_core_s"):
        return "core-s"
    if key.endswith("_cpu_ms"):
        return "core-ms"
    if key.endswith("_ms"):
        return "ms"
    if key.endswith("_bytes") or key == "bytes_written":
        return "B"
    if key.endswith("_per_s"):
        return "1/s"
    if key.endswith("_s"):
        return "s"
    if key == "skip_ratio" or key.endswith("recall10"):
        return "ratio"
    return "count"


def _names() -> list[str]:
    names = ["session.calls"] + [f"session.{k}" for k in SESSION_KEYS]
    names += [f"index.build.{k}" for k in CORE] + ["index.build.turns_per_s"]
    names += [f"index.storage.{t}_bytes" for t in STORAGE_TABLES]
    names += [f"index.query.{k}" for k in CORE] + [
        "index.query.blocks_decoded", "index.query.blocks_skipped",
        "index.query.skip_ratio", "index.query.kernel_ms_p50",
        "index.query.kernel_ms_p90"]
    names += [f"index.extend.{k}" for k in CORE] + [
        "index.extend.bytes_written", "index.extend.turns_per_s"]
    names += [f"index.maintenance.{k}" for k in CORE] + ["index.maintenance.bytes_written"]
    for t in TIERS:
        names += [f"index.vectors.{t}_{k}" for k in TIER_CORE]
        names += [f"index.vectors.{t}_build_ms", f"index.vectors.{t}_code_bytes",
                  f"index.vectors.{t}_recall10"]
    names += [f"operators.similarity.{k}" for k in TIER_CORE]
    names += ["host.busy_core_s", "host.steal_core_s", "bench.read_cpu_ms",
              "bench.op_cpu_ms", "bench.read_p50_ms", "bench.ops_per_s"]
    return names


PER_LAYER = {n: _unit(n.rsplit(".", 1)[1]) for n in _names()}


def _med(records, key) -> float:
    vals = [r[key] for r in records if key in r]
    return median(vals) if vals else 0.0


def per_layer(records: list[dict], result: dict, host: dict) -> dict[str, float]:
    """One value per PER_LAYER name. ``session.*`` sums every timed call;
    a module's metrics are the median over its timed calls (the set-up call
    for builds); a layer the workload never calls reads 0."""
    timed = [r for r in records if r["phase"] == "timed"]
    out = {n: 0.0 for n in PER_LAYER}
    out["session.calls"] = float(len(timed))
    for k in SESSION_KEYS:
        out[f"session.{k}"] = float(sum(r[k] for r in timed))

    def fill(prefix, recs, keys):
        for k in keys:
            out[f"{prefix}{k}"] = _med(recs, k)

    def of(layer, name=None, phase="timed"):
        return [r for r in records if r["layer"] == layer and r["phase"] == phase
                and (name is None or r["name"] == name)]

    build = of("index.build", phase="setup")
    fill("index.build.", build, CORE)
    if "build_turns_per_s" in result:
        out["index.build.turns_per_s"] = result["build_turns_per_s"]
    for t, b in result.get("storage", {}).items():
        out[f"index.storage.{t}_bytes"] = float(b)

    query = of("index.query")
    fill("index.query.", query, CORE)
    dec = sum(r.get("blocks_decoded", 0) for r in query)
    skip = sum(r.get("blocks_skipped", 0) for r in query)
    out["index.query.blocks_decoded"] = _med(query, "blocks_decoded")
    out["index.query.blocks_skipped"] = _med(query, "blocks_skipped")
    out["index.query.skip_ratio"] = skip / (dec + skip) if dec + skip else 0.0
    kernel = [ms for r in query for ms in r.get("kernel_ms", [])]
    if kernel:
        out["index.query.kernel_ms_p50"] = percentile(kernel, 50)
        out["index.query.kernel_ms_p90"] = percentile(kernel, 90)

    fill("index.extend.", of("index.extend"), CORE + ("bytes_written",))
    if "extend_turns_per_s" in result:
        out["index.extend.turns_per_s"] = result["extend_turns_per_s"]
    fill("index.maintenance.", of("index.maintenance"), CORE + ("bytes_written",))

    for t in TIERS:
        fill(f"index.vectors.{t}_", of("index.vectors", f"ann_topk_{t}_indexed"),
             TIER_CORE + ("recall10",))
        out[f"index.vectors.{t}_build_ms"] = _med(
            of("index.vectors", f"{t}_build", "setup"), "wall_ms")
        out[f"index.vectors.{t}_code_bytes"] = float(result.get("code_bytes", {}).get(t, 0))
    fill("operators.similarity.", of("operators.similarity"), TIER_CORE)

    out["host.busy_core_s"] = host["busy_core_s"]
    out["host.steal_core_s"] = host["steal_core_s"]
    for k in ("read_cpu_ms", "op_cpu_ms", "read_p50_ms", "ops_per_s"):
        out[f"bench.{k}"] = result[k]
    return out
