"""Tracing for the benchmark's traced run (``--trace 1``).

Two sources, both read from the benchmark's side with no package edits:

* :class:`Tracer` records a span (name, start, end, parent) around each
  benchmark call into a layer function, keeps them in memory and writes
  them out once at the end.
* :class:`StatusStore` runs an action under a Spark job group, then reads
  that group's stage metrics (task times, GC, spill, shuffle and output
  bytes) from the application status store and the per-operator SQL
  metrics (for example the Python-worker init and run times of the Arrow
  scoring stage) from the SQL status store.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh, indent=1)


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)(?: (ms|s|m|h|B|KiB|MiB|GiB|TiB))?")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it (``'808 ms'``,
    ``'1.3 s'``, ``'5,000'``, or ``'total (min, med, max ...)\\n2.1 MiB
    (...)'``) -> seconds, bytes or a count."""
    head = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(head.strip())
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class StatusStore:
    """Job-group scoped reads of Spark's own stage and SQL metrics."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = spark._jsparkSession.sparkContext()
        self._bus = jsc.listenerBus()
        self._app = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def run(self, group: str, fn) -> tuple[float, object]:
        """Run ``fn`` with its Spark jobs tagged ``group``; returns
        (wall seconds, fn's result)."""
        self.sc.setJobGroup(group, group)
        try:
            t0 = time.perf_counter()
            out = fn()
            return time.perf_counter() - t0, out
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _settle(self) -> None:
        self._bus.waitUntilEmpty(30000)

    def jobs(self, group: str) -> list[int]:
        self._settle()
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, group: str) -> list[dict]:
        """Per-stage metrics, with task durations and the plan operators
        each stage ran, of every job in ``group``."""
        tracker = self.sc.statusTracker()
        stage_ids = sorted(
            {sid for jid in self.jobs(group) for sid in tracker.getJobInfo(jid).stageIds}
        )
        out = []
        for sid in stage_ids:
            st = self._app.lastStageAttempt(sid)
            tasks = self._conv.asJava(
                self._app.taskList(sid, st.attemptId(), 1_000_000)
            )
            durations = [
                t.duration().get() / 1000.0 for t in tasks if t.duration().isDefined()
            ]
            if not durations:  # skipped: its shuffle output was reused
                continue
            out.append(
                {
                    "stage_id": sid,
                    "operators": self._operators(
                        self._app.operationGraphForStage(sid).rootCluster()
                    ),
                    "tasks": st.numTasks(),
                    "run_s": st.executorRunTime() / 1000.0,
                    "gc_s": st.jvmGcTime() / 1000.0,
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "shuffle_read_bytes": st.shuffleReadBytes(),
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "output_bytes": st.outputBytes(),
                    "task_s": durations,
                }
            )
        return out

    def _operators(self, cluster) -> list[str]:
        """Plan operators a stage ran (its RDD operation-graph clusters)."""
        names = [cluster.name()]
        for child in self._conv.asJava(cluster.childClusters()):
            names += self._operators(child)
        return names

    def sql_metrics(self, group: str) -> list[tuple[str, str, float]]:
        """(operator, metric name, value) for every SQL execution that ran
        a job of ``group``."""
        jobs = set(self.jobs(group))
        rows = []
        for ex in self._conv.asJava(self._sql.executionsList()):
            if not jobs.intersection(self._conv.asJava(ex.jobs().keySet())):
                continue
            eid = ex.executionId()
            values = self._conv.asJava(self._sql.executionMetrics(eid))
            graph = self._sql.planGraph(eid)
            for node in self._conv.asJava(graph.allNodes()):
                for metric in self._conv.asJava(node.metrics()):
                    text = values.get(metric.accumulatorId())
                    if text is not None:
                        rows.append((node.name(), metric.name(), parse_metric(text)))
        return rows


def task_skew(stages: list[dict]) -> float:
    """Hurricane's skew signal: max / median task time, over the tasks of
    the stage that read the most shuffle bytes (the reduce side)."""
    reduce_side = max(stages, key=lambda s: s["shuffle_read_bytes"])
    durations = reduce_side["task_s"]
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0
