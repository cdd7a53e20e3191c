"""Measurement helpers read from outside the program: spans, Spark engine
counters from the status store, SQL scan metrics, and peak RSS.

Spans are kept in memory and printed once when the run ends.  Engine
counters for a span are the stages and jobs whose ids are above the
marks taken when the span opened; the program's own worker threads (the
13 concurrent sink writes) therefore count toward the span that called
them, which a thread-local job group alone would miss.  The status-store
walk is the one ``tools/shuffle_probe.py`` uses.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager


class Spans:
    """In-memory span log: (name, parent, start, end, counters)."""

    def __init__(self, spark=None):
        self.spark = spark
        self.records: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, counters: bool = True):
        sc = self.spark.sparkContext if (self.spark is not None and counters) else None
        marks = _marks(sc) if sc is not None else None
        exec_from = last_execution_id(self.spark) if sc is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        rec = {"name": name, "parent": parent, "start": time.perf_counter() - self._t0}
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                rec.update(engine_since(sc, marks, rec["end"] - rec["start"]))
                rec["executions"] = (exec_from, last_execution_id(self.spark))
            self.records.append(rec)


def _store(sc):
    return sc._jsc.sc().statusStore()


def _drain(sc) -> None:
    """Wait until the listener bus has delivered every event so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _marks(sc) -> tuple[int, int]:
    _drain(sc)
    return _max_job(sc), _max_stage(sc)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _jobs(sc):
    jvm = sc._jvm
    return _iter(_store(sc).jobsList(jvm.java.util.ArrayList()))


def _stages(sc):
    jvm = sc._jvm
    quantiles = sc._gateway.new_array(jvm.double, 0)
    return _iter(_store(sc).stageList(
        jvm.java.util.ArrayList(), False, False, quantiles, jvm.java.util.ArrayList()
    ))


def _max_job(sc) -> int:
    return max((j.jobId() for j in _jobs(sc)), default=-1)


def _max_stage(sc) -> int:
    return max((s.stageId() for s in _stages(sc)), default=-1)


def engine_since(sc, marks: tuple[int, int], wall_s: float) -> dict:
    """Engine counters of every job and stage started after ``marks``."""
    _drain(sc)
    job_mark, stage_mark = marks
    jobs = [j for j in _jobs(sc) if j.jobId() > job_mark]
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "shuffle_write_bytes": 0,
        "shuffle_write_records": 0,
        "spill_bytes": 0,
        "input_bytes": 0,
        "output_bytes": 0,
        "run_s": 0.0,
        "gc_s": 0.0,
    }
    for s in _stages(sc):
        if s.stageId() <= stage_mark:
            continue
        out["stages"] += 1
        out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["shuffle_write_records"] += s.shuffleWriteRecords()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["input_bytes"] += s.inputBytes()
        out["output_bytes"] += s.outputBytes()
        out["run_s"] += s.executorRunTime() / 1000.0
        out["gc_s"] += s.jvmGcTime() / 1000.0
    cores = sc.defaultParallelism
    out["core_busy_ratio"] = out["run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
    return out


def sql_metric(spark, executions: tuple[int, int], node_prefix: str, metric: str) -> int:
    """Sum of ``metric`` over plan nodes whose name starts with
    ``node_prefix``, in the SQL executions with ids in the half-open
    range ``executions`` (first, last].  E.g. InMemoryTableScan "number
    of output rows" is the rows read back from a cached DataFrame."""
    _drain(spark.sparkContext)
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    first, last = executions
    total = 0
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if not first < eid <= last:
            continue
        values = _scala_map(store.executionMetrics(eid))
        nodes = store.planGraph(eid).allNodes()
        for k in range(nodes.size()):
            n = nodes.apply(k)
            if not n.name().startswith(node_prefix):
                continue
            metrics = n.metrics()
            for m in range(metrics.size()):
                if metrics.apply(m).name() == metric:
                    v = values.get(metrics.apply(m).accumulatorId())
                    if v is not None:
                        total += int(v.split()[0].replace(",", ""))
    return total


def _scala_map(m) -> dict:
    return {kv._1(): str(kv._2()) for kv in _iter(m)}


def last_execution_id(spark) -> int:
    _drain(spark.sparkContext)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants (the
    driver JVM and its launcher), from /proc VmHWM."""
    total_kb = 0
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
        todo.extend(_children(pid))
    return total_kb / 1024.0
