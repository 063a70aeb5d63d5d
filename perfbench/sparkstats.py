"""Per-layer counters read from Spark's own status stores, over py4j.

Nothing here runs inside the package: the benchmark reads what Spark
already records for every job, stage and SQL execution, all of which is
kept with ``spark.ui.enabled=false``:

* ``AppStatusStore`` (jobs and stages): task counts, executor run, CPU
  and GC time, shuffle, spill and input bytes, job submit/complete times;
* ``SQLAppStatusStore`` (SQL executions): the Python-worker traffic and
  the write metrics, as rendered metric strings;
* ``SparkContext.getPersistentRDDs`` and ``CacheManager``: state a query
  leaves registered.

Attribution is by id: Spark numbers jobs and stages in order, so the ids
handed out while a span was open belong to that span
(``Tracer.span`` records the ranges). An SQL execution belongs to the
span that holds its first job.
"""

from __future__ import annotations

import json
import re

from py4j.protocol import Py4JJavaError

from spans import Span, union_length

_SIZE = {"B": 1, "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40, "PiB": 2 ** 50}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")
_PLAN_METRIC = re.compile(r"^SQLPlanMetric\((.*),(\d+),(\w+)\)$")

#: rendered SQL metric name -> counter name
SQL_METRICS = {
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    "written output": "output_bytes",
    "number of written files": "files_written",
}

#: StageData accessor -> (counter name, scale to the counter's unit)
STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "inputBytes": ("input_bytes", 1),
}

COUNTERS = (
    ("jobs", "stages", "driver_gap_s")
    + tuple(name for name, _ in STAGE_FIELDS.values())
    + tuple(SQL_METRICS.values())
)


def parse_metric(text: str) -> float:
    """Total of one rendered SQL metric value: bytes for a size metric,
    seconds for a timing metric, the plain number otherwise.

    A value summed over one task renders alone (``1240.0 B``, ``538 ms``,
    ``1,240``); over several tasks it renders as a
    ``total (min, med, max (stageId: taskId))`` header with the total
    leading the next line (``4.6 MiB (1812.3 KiB, ...)``).
    """
    lines = text.strip().splitlines()
    m = _VALUE.match(lines[-1] if lines else "")
    if m is None:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return value
    if unit in _SIZE:
        return value * _SIZE[unit]
    if unit in _TIME:
        return value * _TIME[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value: {text!r}")


class StatusProbe:
    """Reads the status stores of one SparkSession."""

    def __init__(self, spark):
        jvm = spark._jvm
        sc = spark.sparkContext._jsc.sc()
        self._jsc = spark.sparkContext._jsc
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        state = spark._jsparkSession.sharedState()
        self._sql = state.statusStore()
        self._cache = state.cacheManager()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self._next_exec = self._first_unseen_execution()
        self.stage_rows: dict[int, dict[str, float]] = {}
        self.job_times: dict[int, tuple[float, float]] = {}
        self.exec_rows: list[tuple[int, dict[str, float]]] = []

    def mark(self) -> tuple[int, int]:
        """The ids Spark will give the next job and the next stage."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    def persisted_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def cached_plans(self) -> int:
        return self._cache.numCachedEntries()

    def _first_unseen_execution(self) -> int:
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        if n == 0:
            return 0
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() + 1

    def harvest(self, jobs: tuple[int, int], stages: tuple[int, int]) -> None:
        """Wait until the listener bus has delivered every event, then
        read the jobs and stages in the given id ranges and every SQL
        execution not read yet."""
        self._bus.waitUntilEmpty()
        for jid in range(*jobs):
            j = self._lookup(self._store.job, jid)
            if j is None:
                continue
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                self.job_times[jid] = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
        for sid in range(*stages):
            st = self._lookup(self._store.lastStageAttempt, sid)
            if st is None or st.status().toString() == "SKIPPED":
                continue
            self.stage_rows[sid] = {
                name: getattr(st, field)() * scale
                for field, (name, scale) in STAGE_FIELDS.items()
            }
        while True:
            opt = self._sql.execution(self._next_exec)
            if not opt.isDefined():
                break
            self._read_execution(self._next_exec, opt.get())
            self._next_exec += 1

    @staticmethod
    def _lookup(get, key):
        """``get(key)``, or None when the store holds no such id (an id
        Spark handed out for a job or stage it never posted, or one the
        store has already evicted)."""
        try:
            return get(key)
        except Py4JJavaError:
            return None

    def _read_execution(self, exec_id: int, ui) -> None:
        job_ids = [int(j) for j in ui.jobs().keySet().mkString(",").split(",") if j]
        if not job_ids:
            return
        wanted = {}
        for item in ui.metrics().mkString("\x01").split("\x01"):
            m = _PLAN_METRIC.match(item)
            if m and m.group(1) in SQL_METRICS:
                wanted[m.group(2)] = SQL_METRICS[m.group(1)]
        values = json.loads(
            self._json.writeValueAsString(self._as_java(self._sql.executionMetrics(exec_id)))
        )
        row: dict[str, float] = {}
        for acc, name in wanted.items():
            if acc in values:
                row[name] = row.get(name, 0.0) + parse_metric(values[acc])
        self.exec_rows.append((min(job_ids), row))

    def counters(self, span: Span) -> dict[str, float]:
        """The span's counters, from everything harvested so far."""
        c = dict.fromkeys(COUNTERS, 0.0)
        lo, hi = span.jobs
        c["jobs"] = float(hi - lo)
        for sid in range(*span.stages):
            row = self.stage_rows.get(sid)
            if row is not None:
                c["stages"] += 1
                for k, v in row.items():
                    c[k] += v
        for first_job, row in self.exec_rows:
            if lo <= first_job < hi:
                for k, v in row.items():
                    c[k] += v
        covered = [self.job_times[j] for j in range(lo, hi) if j in self.job_times]
        c["driver_gap_s"] = span.duration - union_length(covered, span.start, span.end)
        return c
