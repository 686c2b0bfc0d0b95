"""Per-operation tracing of one benchmark run, recorded from outside
the library.

Spans (run -> pass -> op -> build/collect or the versioned call) are
kept in memory and written out when the run ends. With tracing on,
each operation runs under its own Spark job group; after it returns,
the tracer drains the listener bus and reads, over py4j:

- ``AppStatusStore`` stage data of the op's jobs: tasks, task run/CPU
  and GC time, shuffle bytes and fetch wait, spill, stage submit and
  complete times (the stage intervals become child spans of the op,
  so the driver's self time falls out);
- ``SQLAppStatusStore`` per-node SQL metrics of the op's executions
  (scan, exchange, AQE shuffle read, broadcast, aggregate, sort,
  codegen, generate and the pandas/Arrow Python nodes).

All of that is read after the op returned, outside its timed wall.
With tracing off the tracer records spans only and never touches the
JVM.
"""

from __future__ import annotations

import collections
import json
import time

from metrics import parse_metric_value, self_time

#: SQL plan nodes that cross into Python workers
PY_NODE_MARKERS = ("Python", "InPandas", "InArrow")

#: (node-name test, SQL metric, layer counter)
_NODE_RULES = [
    (lambda n: n.startswith("Scan "), "number of files read", "scan.files_read"),
    (lambda n: n.startswith("Scan "), "size of files read", "scan.bytes_read"),
    (lambda n: n.startswith("Scan "), "number of output rows", "scan.rows_out"),
    (lambda n: n.startswith("Scan "), "scan time", "scan.time_s"),
    (lambda n: n == "Exchange", "shuffle bytes written", "shuffle.bytes_written"),
    (lambda n: n == "Exchange", "shuffle records written", "shuffle.records_written"),
    (lambda n: n == "Exchange", "shuffle write time", "shuffle.write_s"),
    (lambda n: n == "Exchange", "fetch wait time", "shuffle.fetch_wait_s"),
    (lambda n: n == "Exchange", "number of partitions", "shuffle.partitions_planned"),
    (lambda n: n == "AQEShuffleRead", "number of partitions", "shuffle.partitions_after_aqe"),
    (lambda n: n == "BroadcastExchange", "data size", "broadcast.bytes"),
    (lambda n: n == "BroadcastExchange", "time to build", "broadcast.build_s"),
    (lambda n: n.endswith("Aggregate"), "time in aggregation build", "agg.build_s"),
    (lambda n: n.endswith("Aggregate"), "peak memory", "agg.peak_mem_bytes"),
    (lambda n: n == "Sort", "sort time", "sort.time_s"),
    (lambda n: True, "spill size", "spill.bytes"),
    (lambda n: n.startswith("WholeStageCodegen"), "duration", "codegen.duration_s"),
    (lambda n: n == "Generate", "number of output rows", "generate.rows_out"),
    (lambda n: _is_py(n), "time to run Python workers", "python.run_s"),
    (lambda n: _is_py(n), "time to initialize Python workers", "python.init_s"),
    (lambda n: _is_py(n), "time to start Python workers", "python.init_s"),
    (lambda n: _is_py(n), "data sent to Python workers", "python.bytes_sent"),
    (lambda n: _is_py(n), "data returned from Python workers", "python.bytes_returned"),
    (lambda n: _is_py(n), "number of output rows", "python.rows_out"),
]


def _is_py(name: str) -> bool:
    return any(m in name for m in PY_NODE_MARKERS)


class Tracer:
    """Spans plus, when ``enabled``, per-op Spark layer counters."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.collect_s = 0.0  # tracer's own reading time, off the op walls
        self._next_id = 0
        if enabled:
            sc = spark.sparkContext
            self._jsc = sc._jsc.sc()
            self._tracker = sc.statusTracker()
            self._store = self._jsc.statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            jvm = spark._jvm
            self._cc = jvm.scala.jdk.javaapi.CollectionConverters
            self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
            self._statuses = jvm.java.util.ArrayList()
            self._exec_seen = self._sql.executionsCount()
            # plan graphs and metric values cross py4j as one JSON string
            # each, not one call per node and metric
            scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                                   "DefaultScalaModule$").__getattr__("MODULE$")
            self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper() \
                .registerModule(scala_module)

    # -- spans ---------------------------------------------------------
    def span(self, name: str, parent: int | None, start: float, end: float,
             **attrs) -> int:
        self._next_id += 1
        self.spans.append({"id": self._next_id, "parent": parent, "name": name,
                           "start": start, "end": end, **attrs})
        return self._next_id

    def end_span(self, span_id: int, end: float) -> None:
        self.spans[span_id - 1]["end"] = end

    def skip_seen(self) -> None:
        """Ignore SQL executions so far (the unreported warm-up)."""
        if self.enabled:
            self._exec_seen = self._sql.executionsCount()

    def begin_op(self, op_id: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(op_id, op_id)

    # -- Spark-side counters -------------------------------------------
    def end_op(self, op_id: str, span_id: int, start: float,
               end: float) -> dict:
        """Read the layer counters of the op just finished; stage
        intervals become child spans of ``span_id``."""
        if not self.enabled:
            return {}
        t0 = time.perf_counter()
        self._jsc.listenerBus().waitUntilEmpty()
        c: dict[str, float] = collections.defaultdict(float)
        job_ids = sorted(self._tracker.getJobIdsForGroup(op_id))
        c["sched.jobs"] = len(job_ids)
        intervals = []
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                for sd in self._stage_attempts(sid):
                    if not sd.submissionTime().isDefined():
                        continue  # skipped stage
                    c["sched.stages"] += 1
                    c["sched.tasks"] += sd.numTasks()
                    c["sched.failed_tasks"] += sd.numFailedTasks()
                    c["sched.task_run_s"] += sd.executorRunTime() / 1e3
                    c["sched.task_cpu_s"] += sd.executorCpuTime() / 1e9
                    c["sched.gc_s"] += sd.jvmGcTime() / 1e3
                    s0 = sd.submissionTime().get().getTime() / 1e3
                    s1 = (sd.completionTime().get().getTime() / 1e3
                          if sd.completionTime().isDefined() else end)
                    intervals.append((s0, s1))
                    self.span("stage", span_id, s0, s1, stage=sid)
        c["driver.self_s"] = self_time(start, end, intervals)
        n_exec = self._sql.executionsCount()
        if n_exec > self._exec_seen:
            wanted = set(job_ids)
            for ex in self._cc.asJava(
                self._sql.executionsList(self._exec_seen, n_exec - self._exec_seen)
            ):
                jobs = {int(j) for j in self._cc.asJava(ex.jobs().keys())}
                if not jobs & wanted:
                    continue
                self._add_nodes(c, self._plan_metrics(ex.executionId()))
            self._exec_seen = n_exec
        c["cache.storage_bytes"] = self._storage_bytes()
        self.collect_s += time.perf_counter() - t0
        return dict(c)

    def _stage_attempts(self, sid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._cc.asJava(self._store.stageData(
                sid, False, self._statuses, False, self._no_quantiles
            ))
        except Py4JJavaError:  # stage evicted or never submitted
            return []

    def _storage_bytes(self) -> float:
        total = 0
        for info in self._jsc.getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        return float(total)

    def _plan_metrics(self, eid: int) -> list[tuple[str, dict[str, float]]]:
        """``(node name, {metric: value})`` for every node and codegen
        cluster of one SQL execution's plan graph."""
        values = json.loads(self._json.writeValueAsString(
            self._sql.executionMetrics(eid)))
        nodes = json.loads(self._json.writeValueAsString(
            self._sql.planGraph(eid).allNodes()))
        out = []
        for node in nodes:
            mets = {}
            for m in node["metrics"]:
                raw = values.get(str(m["accumulatorId"]))
                val = parse_metric_value(raw) if raw is not None else None
                if val is not None:
                    mets[m["name"]] = val
            out.append((node["name"], mets))
        return out

    @staticmethod
    def _add_nodes(c: dict, nodes: list[tuple[str, dict]]) -> None:
        for name, mets in nodes:
            if _is_py(name):
                c["python.crossings"] += 1
            for test, metric, key in _NODE_RULES:
                if metric in mets and test(name):
                    c[key] += mets[metric]
