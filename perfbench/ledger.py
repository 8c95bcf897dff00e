"""Per-layer ledger for one benchmark operation, read from Spark itself.

Nothing here changes the engine. The numbers come from three places the
JVM already keeps, read after the operation's timed region:

- the application status store (``SparkContext.statusStore``): jobs,
  their job group and submission time, and per-stage task totals;
- the SQL status store (``SharedState.statusStore``): executions, their
  plan graph and the SQL metrics of the Python exec nodes;
- the ``QueryExecution`` trackers: Catalyst phase times. Analysis is read
  from the returned DataFrame's tracker right after the build; the noop
  write optimizes and plans in a ``QueryExecution`` of its own, which a
  ``QueryExecutionListener`` receives when the write ends.

Job attribution: the benchmark sets a job group naming the workload,
operation and pass before each call. Jobs submitted from threads that do
not inherit it (the engine's IVF||PQ training pool) carry no group; they
are attributed to the operation whose span covers their submission time
and counted as ``jobs.untagged``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.java_gateway import ensure_callback_server_started

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_NODE = re.compile(r"Python|Arrow|Pandas")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '22,500', '703.4 KiB', '2.0 s',
    or the multi-task form 'total (min, med, max ...)\\n1.2 MiB (...)'.
    Sizes come back in bytes, times in seconds."""
    head = text.rsplit("\n", 1)[-1].split(" (")[0].strip().replace(",", "")
    parts = head.split()
    value = float(parts[0])
    if len(parts) == 1:
        return value
    unit = parts[1]
    if unit in _SIZE_UNITS:
        return value * _SIZE_UNITS[unit]
    return value * _TIME_UNITS[unit]


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


@dataclass
class Span:
    """One operation's spans, in epoch seconds (the JVM's clock)."""

    group: str
    start: float
    build_end: float
    end: float
    #: Analysis time of the returned plan; empty when the operation
    #: returned no DataFrame and so made no noop write.
    phases: dict[str, float] = field(default_factory=dict)


class Ledger:
    """Reads what the status stores gained since the last ``take``."""

    def __init__(self, spark):
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism
        self.next_job = self._count(self.store.jobsList(None), "jobId")
        self.next_exec = self._count(self.sql.executionsList(), "executionId")
        ensure_callback_server_started(spark.sparkContext._gateway)
        self.writes = PhaseListener()
        spark._jsparkSession.listenerManager().register(self.writes)

    @staticmethod
    def _count(seq, key: str) -> int:
        ids = [getattr(x, key)() for x in _seq(seq)]
        return max(ids) + 1 if ids else 0

    def _new_jobs(self) -> list:
        jobs = []
        while True:
            try:
                jobs.append(self.store.job(self.next_job))
            except Py4JJavaError:
                return jobs
            self.next_job += 1

    def _new_execs(self) -> list:
        out = []
        while True:
            ui = _opt(self.sql.execution(self.next_exec))
            if ui is None:
                return out
            out.append(ui)
            self.next_exec += 1

    def skip(self) -> None:
        """Advance past jobs and executions made since the last traced
        operation (output checks, untraced passes); called just before a
        traced operation starts."""
        self.jsc.listenerBus().waitUntilEmpty()
        self._new_jobs()
        self._new_execs()
        self.writes.phases.clear()

    def take(self, span: Span) -> dict[str, float]:
        """Layer metrics for the operation that just ran in ``span``;
        ``span.phases`` holds the analysis time of the returned plan."""
        self.jsc.listenerBus().waitUntilEmpty()
        m = {
            "build.jobs": 0, "exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0,
            "exec.task_s": 0.0, "exec.gc_s": 0.0, "catalog.files_read_bytes": 0,
            "shuffle.read_bytes": 0, "shuffle.write_bytes": 0, "spill.bytes": 0,
            "jobs.untagged": 0,
        }
        for jd in self._new_jobs():
            group = _opt(jd.jobGroup())
            sub = _opt(jd.submissionTime())
            t = sub.getTime() / 1000.0 if sub is not None else span.end
            if group is None and span.start <= t <= span.end:
                m["jobs.untagged"] += 1
            elif group != span.group:
                continue
            if t < span.build_end:
                m["build.jobs"] += 1
            else:
                m["exec.jobs"] += 1
            for sid in _seq(jd.stageIds()):
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += sd.numTasks()
                m["exec.task_s"] += sd.executorRunTime() / 1000.0
                m["exec.gc_s"] += sd.jvmGcTime() / 1000.0
                m["catalog.files_read_bytes"] += sd.inputBytes()
                m["shuffle.read_bytes"] += sd.shuffleReadBytes()
                m["shuffle.write_bytes"] += sd.shuffleWriteBytes()
                m["spill.bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        py = {"python.rows_out": 0.0, "python.in_bytes": 0.0,
              "python.out_bytes": 0.0, "python.eval_s": 0.0}
        names = {
            "number of output rows": "python.rows_out",
            "data sent to Python workers": "python.in_bytes",
            "data returned from Python workers": "python.out_bytes",
            "time to run Python workers": "python.eval_s",
        }
        plan_nodes = 0
        for ui in self._new_execs():
            eid = ui.executionId()
            nodes = _seq(self.sql.planGraph(eid).allNodes())
            plan_nodes = len(nodes)  # the last execution is the write
            values = self.sql.executionMetrics(eid)
            for node in nodes:
                if not _PY_NODE.search(node.name()):
                    continue
                for metric in _seq(node.metrics()):
                    key = names.get(metric.name())
                    text = _opt(values.get(metric.accumulatorId()))
                    if key and text:
                        py[key] += parse_metric(text)
        m.update(py)
        m["plan.nodes"] = plan_nodes
        wall = max(span.end - span.start, 1e-9)
        m["exec.task_busy_frac"] = m["exec.task_s"] / (wall * self.cores)
        m.update(span.phases)
        # The write is the operation's last SQL execution to end.
        write = self.writes.phases[-1] if span.phases and self.writes.phases else {}
        m["catalyst.optimization_ms"] = write.get("optimization", 0.0)
        m["catalyst.planning_ms"] = write.get("planning", 0.0)
        self.writes.phases.clear()
        return m


class PhaseListener:
    """A JVM ``QueryExecutionListener`` implemented in Python: Spark calls
    it through the Py4J callback server, on its listener bus, with each
    finished SQL execution's own ``QueryExecution``."""

    def __init__(self):
        self.phases: list[dict[str, float]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM name)
        self.phases.append(phase_ms(qe.tracker()))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM name)
        self.phases.append(phase_ms(qe.tracker()))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phase_ms(tracker) -> dict[str, float]:
    """Phase durations a ``QueryPlanningTracker`` recorded, in ms."""
    phases = tracker.phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        s = _opt(phases.get(name))
        if s is not None:
            out[name] = float(s.endTimeMs() - s.startTimeMs())
    return out


def analysis_ms(df) -> float:
    """Analysis time of the returned plan, paid during the build."""
    return phase_ms(df._jdf.queryExecution().tracker()).get("analysis", 0.0)
