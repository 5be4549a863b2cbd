"""Spans and Spark status-store counters for the traced run.

A span is (name, start, end, parent, run_id), kept in memory and written
out once when the run ends. A layer span also tags every Spark job it
starts with its own job group; when the span closes, the job group's
stages are looked up in the JVM status store (which is populated with
the UI disabled) and their task metrics are summed into the layer's
counters. Nothing here changes what the library computes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: fields every layer reports (see BENCHMARK.json ``per_layer``)
LAYER_FIELDS = (
    "wall_s", "cpu_s", "run_s", "gc_s", "fetch_wait_s", "shuffle_write_mb",
    "spill_mb", "input_rows", "jobs", "tasks", "failed_tasks",
)
#: the repository modules timed as layers, in report order
LAYERS = (
    "profile", "marking", "uniqueness", "verdicts", "drift", "checkpoint",
    "suite", "streaming", "isoforest", "token_ops",
)
#: layer-specific fields beyond LAYER_FIELDS
EXTRA_FIELDS = {
    "marking": ("python_ms",),
    "verdicts": ("violation_rows",),
    "streaming": (
        "addBatch_ms", "queryPlanning_ms", "walCommit_ms",
        "commitOffsets_ms", "latestOffset_ms", "jobs_per_batch",
        "sink_files_per_batch",
    ),
}
MB = float(1 << 20)
#: ArrowEvalPython SQL metric read for ``marking.python_ms``
PYTHON_RUN_METRIC = "time to run Python workers"


class SparkCounters:
    """Reads per-job-group task metrics from the driver's status store."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def drain(self) -> None:
        """Wait until the listener bus has applied every finished job to
        the status store (it is updated asynchronously)."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Summed task metrics over every stage attempt of ``job_ids``."""
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(LAYER_FIELDS, 0.0)
        out["jobs"] = float(len(job_ids))
        del out["wall_s"]
        stages = self._jsc.statusStore().stageList(
            None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / MB
            out["spill_mb"] += s.diskBytesSpilled() / MB
            out["input_rows"] += s.inputRecords()
            out["tasks"] += (s.numCompleteTasks() + s.numFailedTasks()
                             + s.numKilledTasks())
            out["failed_tasks"] += s.numFailedTasks()
        return out

    def python_run_ms(self, job_ids: list[int]) -> float:
        """Sum of the ArrowEvalPython "time to run Python workers" metric
        over the SQL executions that ran ``job_ids``."""
        jvm = self.spark._jvm
        store = self.spark._jsparkSession.sharedState().statusStore()
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        wanted = set(job_ids)
        total = 0.0
        execs = store.executionsList()
        for i in range(execs.size()):
            e = execs.apply(i)
            if not wanted & {int(k) for k in conv.asJava(e.jobs()).keySet()}:
                continue
            nodes = store.planGraph(e.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if "ArrowEvalPython" not in node.name():
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    if metric.name() != PYTHON_RUN_METRIC:
                        continue
                    acc = jvm.org.apache.spark.util.AccumulatorContext.get(
                        metric.accumulatorId())
                    if acc.isDefined():
                        total += float(acc.get().value())
        return total


class Tracer:
    """In-memory spans plus per-layer counters for one benchmark run.

    ``layer(name)`` opens a span whose Spark jobs run in a fresh job
    group; on exit the group's counters are added to the layer's totals."""

    def __init__(self, spark, run_id: str, t0: float):
        self.run_id = run_id
        self.t0 = t0
        self.counters = SparkCounters(spark)
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.totals: dict[str, dict[str, float]] = {}
        self.calls: dict[str, int] = {}
        self._groups = 0
        #: seconds spent in the tracer's own bookkeeping (job-group
        #: tagging, listener-bus drain, status-store reads)
        self.bookkeeping_s = 0.0

    def _open(self, name: str) -> int:
        self.spans.append({
            "name": name, "start": time.perf_counter() - self.t0, "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        })
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int) -> float:
        self._stack.pop()
        span = self.spans[idx]
        span["end"] = time.perf_counter() - self.t0
        return span["end"] - span["start"]

    @contextmanager
    def layer(self, name: str):
        """Time one call into layer ``name``. The body may put
        layer-specific values into the yielded dict."""
        extra: dict[str, float] = {}
        self._groups += 1
        group = f"perfbench-{self.run_id}-{self._groups}"
        t0 = time.perf_counter()
        idx = self._open(name)
        self.sc.setJobGroup(group, name)
        t1 = time.perf_counter()
        try:
            yield extra
        finally:
            t2 = time.perf_counter()
            self.sc._jsc.clearJobGroup()
            wall = self._close(idx)
        self.counters.drain()
        jobs = self.counters.job_ids(group)
        values = self.counters.stage_totals(jobs)
        values["wall_s"] = wall
        if name == "marking":
            values["python_ms"] = self.counters.python_run_ms(jobs)
        values.update(extra)
        self.add(name, values)
        self.bookkeeping_s += (t1 - t0) + (time.perf_counter() - t2)

    def add(self, name: str, values: dict[str, float], calls: int = 1) -> None:
        acc = self.totals.setdefault(name, {})
        for k, v in values.items():
            acc[k] = acc.get(k, 0.0) + float(v)
        self.calls[name] = self.calls.get(name, 0) + calls

    def layer_metrics(self) -> dict[str, float]:
        """Every ``<layer>.<field>`` as a per-call mean. A layer the
        workload never calls reports 0 for each field."""
        out = {}
        for layer in LAYERS:
            acc = self.totals.get(layer, {})
            n = max(self.calls.get(layer, 0), 1)
            for f in LAYER_FIELDS + EXTRA_FIELDS.get(layer, ()):
                out[f"{layer}.{f}"] = acc.get(f, 0.0) / n
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "calls": self.calls}, f)
