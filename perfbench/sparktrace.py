"""Per-call layer records read from outside the engine, from Spark's own
status stores.

Around each public call the benchmark takes a snapshot of the highest job,
stage and SQL-execution ids, then, after the call returns and the listener
bus has drained, reads everything newer: stage spans and task metrics from
``statusStore().stageList`` and the Python-exec node metrics (worker boot,
init and run time, Arrow bytes each way) from the SQL status store.

Spans (name, start, end, parent, request id) are kept in memory and written
out once at the end of the run. A call's self time is its duration minus the
part its stage spans cover, which is the record's ``driver_ms``.
"""

from __future__ import annotations

import json
import re

from arith import interval_union

SESSION_KEYS = (
    "wall_ms", "stage_union_ms", "driver_ms", "jobs", "stages", "tasks",
    "failed_tasks", "idle_slot_ms", "executor_run_ms", "executor_cpu_ms",
    "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
    "python_boot_ms", "python_init_ms", "python_total_ms",
    "arrow_sent_bytes", "arrow_recv_bytes",
)

# SQL metric display names (PythonSQLMetrics) → record key
_PY_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "arrow_sent_bytes",
    "data returned from Python workers": "arrow_recv_bytes",
}
_UNIT = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40,
}
# plan nodes that hand rows to Python workers (MapInPandas,
# FlatMapGroupsInPandas, ArrowEvalPython, ...); only these carry the metrics
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_VALUE = re.compile(r"(-?[\d.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL size/timing metric, in ms or bytes. The
    store renders ``total (min, med, max ...)\\n<total> (<min>, ...)``; the
    total is the first value on the last line. Formatting keeps one
    decimal, so values above 1 s or 1 KiB are rounded."""
    line = text.strip().splitlines()[-1] if text and text.strip() else ""
    m = _VALUE.search(line)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


def _seq(scala_seq):
    it = scala_seq.iterator()
    while it.hasNext():
        yield it.next()


def _opt_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


class SparkTracer:
    """Reads the status stores of one SparkSession around benchmark calls
    and keeps the resulting records and spans in memory."""

    def __init__(self, spark, cores: int):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = cores
        self.records: list[dict] = []
        self.spans: list[dict] = []

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _newer(self, items, key, after: int):
        """Items whose ``key`` id is above ``after``. The status store lists
        jobs and stages newest first, so the walk stops at the first old
        one instead of crossing the py4j bridge for every retained item."""
        out, prev = [], None
        for it in items:
            i = key(it)
            if prev is not None and i > prev:
                raise RuntimeError("status store no longer lists newest first")
            if i <= after:
                break
            out.append(it)
            prev = i
        return out

    def _stage_seq(self):
        return _seq(self._jsc.statusStore().stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        ))

    def _job_seq(self):
        return _seq(self._jsc.statusStore().jobsList(self._jvm.java.util.ArrayList()))

    def snapshot(self) -> tuple[int, int, int]:
        """(newest job id, newest stage id, SQL execution count) so far."""
        self._drain()
        job = next(self._job_seq(), None)
        stage = next(self._stage_seq(), None)
        return (
            job.jobId() if job is not None else -1,
            stage.stageId() if stage is not None else -1,
            self._sql.executionsCount(),
        )

    def record(self, layer: str, name: str, request_id: int, phase: str,
               start: float, end: float, before: tuple[int, int, int],
               **extra) -> dict:
        """Build the layer record of one call that ran in the epoch-second
        window ``[start, end]`` after snapshot ``before``."""
        self._drain()
        job0, stage0, exec0 = before
        rec = {k: 0.0 for k in SESSION_KEYS}
        rec.update(layer=layer, name=name, request_id=request_id, phase=phase,
                   start=start, end=end, **extra)
        call_span = len(self.spans)
        self.spans.append({"name": f"{layer}.{name}", "start": start, "end": end,
                           "parent": None, "request_id": request_id})
        rec["jobs"] = len(self._newer(self._job_seq(), lambda j: j.jobId(), job0))
        spans_ms = []
        for s in self._newer(self._stage_seq(), lambda s: s.stageId(), stage0):
            status = s.status().toString()
            if status == "SKIPPED":
                continue
            rec["stages"] += 1
            rec["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            rec["failed_tasks"] += s.numFailedTasks()
            rec["executor_run_ms"] += s.executorRunTime()
            rec["executor_cpu_ms"] += s.executorCpuTime() / 1e6
            rec["input_bytes"] += s.inputBytes()
            rec["shuffle_read_bytes"] += s.shuffleReadBytes()
            rec["shuffle_write_bytes"] += s.shuffleWriteBytes()
            t0, t1 = _opt_ms(s.submissionTime()), _opt_ms(s.completionTime())
            if t0 is not None and t1 is not None:
                spans_ms.append((t0, t1))
                self.spans.append({
                    "name": f"stage.{s.stageId()}.{s.attemptId()}",
                    "start": t0 / 1e3, "end": t1 / 1e3, "parent": call_span,
                    "request_id": request_id,
                })
        for e in _seq(self._sql.executionsList(exec0, 1 << 20)):
            values = self._sql.executionMetrics(e.executionId())
            seen = set()  # a metric shared by two plan-graph nodes counts once
            for node in _seq(self._sql.planGraph(e.executionId()).allNodes()):
                if not _PY_NODE.search(node.name()):
                    continue
                for m in _seq(node.metrics()):
                    key = _PY_METRICS.get(m.name())
                    if key is None or m.accumulatorId() in seen:
                        continue
                    seen.add(m.accumulatorId())
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        rec[key] += parse_sql_metric(v.get())
        wall_ms = (end - start) * 1e3
        union_ms = interval_union(spans_ms, start * 1e3, end * 1e3)
        rec["wall_ms"] = wall_ms
        rec["stage_union_ms"] = union_ms
        rec["driver_ms"] = wall_ms - union_ms
        rec["idle_slot_ms"] = union_ms * self.cores - rec["executor_run_ms"]
        self.records.append(rec)
        return rec

    def dump(self, path: str) -> None:
        """Write the spans, then the records, one JSON object a line."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({"span": s}) + "\n")
            for r in self.records:
                fh.write(json.dumps({"record": r}) + "\n")
