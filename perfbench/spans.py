"""Spans around the benchmark's calls into each layer, filled from
Spark's own counters.

A span tags every Spark job started inside it with its own job group.
After it closes, the core status store gives the jobs' intervals and each
stage's task CPU, GC, shuffle-write and spill totals, and the SQL status
store gives the final (post-AQE) plan of every SQL execution those jobs
belong to, with its per-operator metrics. Everything is read from the
benchmark side; the program is not instrumented. Both stores are filled
with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    group: str
    t0: float = 0.0
    t1: float = 0.0

    @property
    def s(self) -> float:
        return self.t1 - self.t0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _metric_value(text: str) -> float | None:
    """A plain count SQL metric ("33,334"); None for the formatted
    timing and size metrics ("total (min, med, max) ...")."""
    try:
        return float(text.replace(",", ""))
    except ValueError:
        return None


class Tracer:
    """Collects spans in memory and reads their counters on demand."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._core = self.sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        sp = Span(name, f"perfbench-{next(self._ids)}")
        self.sc.setJobGroup(sp.group, name, False)
        sp.t0 = time.time()
        try:
            yield sp
        finally:
            sp.t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _drain(self) -> None:
        # both stores are fed asynchronously by the listener bus
        self._core.listenerBus().waitUntilEmpty()

    def job_ids(self, sp: Span) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(sp.group))

    def counters(self, sp: Span) -> dict:
        """Job, stage and task totals of the span's job group, plus
        ``driver_s``: span wall time not covered by any of its jobs."""
        self._drain()
        store = self._core.statusStore()
        ids = self.job_ids(sp)
        out = dict(jobs=len(ids), stages=0, tasks=0, task_cpu_s=0.0,
                   gc_s=0.0, shuffle_write_bytes=0, spill_bytes=0)
        intervals = []
        for jid in ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                a, b = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                intervals.append((max(a, sp.t0), min(b, sp.t1)))
            for sid in _seq(job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        job_s = _union_length([iv for iv in intervals if iv[1] > iv[0]])
        out["driver_s"] = max(sp.s - job_s, 0.0)
        return out

    def plan_nodes(self, sp: Span) -> list[tuple[str, dict]]:
        """(operator name, {metric: value}) for every node of the final
        plans of the SQL executions the span's jobs ran for."""
        self._drain()
        ids = set(self.job_ids(sp))
        out = []
        execs = self._sql.executionsList()
        for e in _seq(execs):
            jobs = e.jobs().keySet()
            if not any(jobs.contains(j) for j in ids):
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in _seq(self._sql.planGraph(e.executionId()).allNodes()):
                metrics = {}
                for m in _seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    value = _metric_value(v.get()) if v.isDefined() else None
                    if value is not None:
                        metrics[m.name()] = value
                out.append((node.name(), metrics))
        return out


def rows_out(nodes: list[tuple[str, dict]], *names: str) -> list[float]:
    """``number of output rows`` of every plan node whose name contains
    one of ``names``."""
    return [
        m.get("number of output rows", 0.0)
        for n, m in nodes
        if any(x in n for x in names)
    ]


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM)."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")
