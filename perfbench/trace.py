"""Spans recorded by the benchmark around its calls into the engine, each
carrying the Spark counters of its own job group.

Counters are read from outside the engine, through Spark's status stores:
job ids per job group (``statusTracker``), per-stage task metrics
(``AppStatusStore.stageData``), job submit/complete times
(``AppStatusStore.job``), and the SQL metrics of each executed plan node
(``SQLAppStatusStore``), which is where the Arrow/pandas kernels report
their Python-worker time and bytes.  All of these work with the UI off.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench.stats import covered

# SQL-metric names of the Python-kernel nodes (MapInArrow,
# FlatMapGroupsInPandas, ...), mapped to counter names.
PYTHON_METRICS = {
    "time to run Python workers": "python_total_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_recv_bytes",
}
# Plan nodes that run Python workers carry "Python", "Pandas" or "Arrow" in
# their names (MapInArrow, FlatMapGroupsInPandas, ArrowEvalPython, ...).
PYTHON_NODES = ("Python", "Pandas", "Arrow")
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "job_ms",
    *PYTHON_METRICS.values(),
)
_SCALE = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "min": 6e4, "h": 3.6e6,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_sql_metric(text: str) -> float:
    """Value of one SQL metric as the status store formats it, in ms for
    timings and bytes for sizes: ``"8,655"``, ``"472.0 B"`` or
    ``"total (min, med, max ...)\\n1.3 s (150 ms, ...)"``."""
    head = text.rsplit("\n", 1)[-1].split(" (", 1)[0].strip()
    num, _, unit = head.partition(" ")
    return float(num.replace(",", "")) * _SCALE.get(unit, 1.0)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads counters per job group from Spark's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._tracker = sc.statusTracker()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._gc_beans = list(
            sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )

    def executions_seen(self) -> int:
        return int(self._sql.executionsCount())

    def jvm_gc_ms(self) -> float:
        """Total garbage-collection time of the JVM so far."""
        return float(sum(b.getCollectionTime() for b in self._gc_beans))

    def _group(self, group_id: str) -> tuple[dict, set[int]]:
        out = dict.fromkeys(COUNTERS, 0.0)
        jobs = set(int(j) for j in self._tracker.getJobIdsForGroup(group_id))
        out["jobs"] = len(jobs)
        stages, spans = set(), []
        for j in jobs:
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
            jd = self._store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        out["job_ms"] = covered(spans)
        for s in stages:
            for d in _iter(self._store.stageData(s, False, self._empty, False, self._no_quantiles)):
                if d.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += d.numCompleteTasks()
                out["executor_run_ms"] += d.executorRunTime()
                out["executor_cpu_ms"] += d.executorCpuTime() / 1e6
                out["gc_ms"] += d.jvmGcTime()
                out["shuffle_read_bytes"] += d.shuffleReadBytes()
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
        return out, jobs

    def groups(self, group_ids: list[str], first_execution: int) -> dict[str, dict]:
        """Counters of the jobs run under each job group.  SQL executions
        are searched from index ``first_execution`` on; each belongs to the
        group its jobs ran in."""
        self._bus.waitUntilEmpty()
        out, group_of = {}, {}
        for g in group_ids:
            out[g], jobs = self._group(g)
            group_of.update(dict.fromkeys(jobs, g))
        n = self.executions_seen() - first_execution
        for e in _iter(self._sql.executionsList(first_execution, max(n, 0))):
            g = next((group_of[int(j)] for j in _iter(e.jobs().keys()) if int(j) in group_of), None)
            if g is None:
                continue
            values = self._sql.executionMetrics(e.executionId())
            for node in _iter(self._sql.planGraph(e.executionId()).allNodes()):
                if not any(k in node.name() for k in PYTHON_NODES):
                    continue
                for m in _iter(node.metrics()):
                    key = PYTHON_METRICS.get(m.name())
                    v = values.get(m.accumulatorId()) if key else None
                    if v is not None and v.isDefined():
                        out[g][key] += parse_sql_metric(v.get())
        return out


class Tracer:
    """In-memory spans: name, start, end, parent and run id, plus the
    Spark counters of the span's own job group (jobs run in a child span
    count in the child).  Inside a span only the job group is switched;
    ``collect`` reads every span's counters once the traced work is done.
    Disabled, ``span`` records nothing and touches no Spark state;
    ``active`` switches recording off for a stretch of an enabled run."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.active = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._sc = spark.sparkContext
        self._counters = SparkCounters(spark) if enabled else None
        self._first_execution = self._counters.executions_seen() if enabled else 0
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = {
            "id": sid, "name": name, "run": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}/{sid}", **attrs,
        }
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span)
        span["start"] = time.perf_counter() - self._t0
        try:
            yield span
        finally:
            span["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            self._set_group(parent)

    def collect(self) -> None:
        """Attach its Spark counters to every span."""
        if not self.spans:
            return
        counters = self._counters.groups([s["group"] for s in self.spans], self._first_execution)
        for s in self.spans:
            s["counters"] = counters[s["group"]]

    def subtree(self, span: dict) -> list[dict]:
        """``span`` and all spans below it."""
        ids, out = {span["id"]}, [span]
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def totals(self, span: dict) -> dict:
        """Counters of ``span`` summed with those of every span below it."""
        out = dict.fromkeys(COUNTERS, 0.0)
        for s in self.subtree(span):
            for k, v in s["counters"].items():
                out[k] += v
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
