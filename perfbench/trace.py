"""Tracing for the benchmark's traced run: spans recorded around calls into
the package's layers, and Spark counters read from Spark's own status
store.

Spans are kept in memory and written out when the run ends.  A span has a
name, a start, an end, the index of the span that caused it, and the id
of the operation it belongs to.  Wrappers live here, in the benchmark:
:func:`install` rebinds the layer functions in the modules that call them
and returns a function that restores the originals."""

from __future__ import annotations

import functools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from perfbench.stats import union_seconds

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(text: str) -> float:
    """Bytes in a formatted SQL size metric: ``"10.3 MiB"``, or for
    multi-task stages a label line followed by ``"10.3 MiB (1.0 MiB, ...)"``."""
    for line in text.strip().splitlines():
        m = re.match(r"([\d.,]+)\s*([A-Za-z]+)?", line.strip())
        if m:
            return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)
    return 0.0


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def operation(self, op_id: str):
        """Every span opened inside shares ``op_id``."""
        prev, self.op = self.op, op_id
        try:
            yield
        finally:
            self.op = prev

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str, since: int = 0) -> list[float]:
        return [s.end - s.start for s in self.spans[since:] if s.name == name]

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of its interval that its
        child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out = []
        for i, s in enumerate(self.spans):
            clipped = [
                (max(a, s.start), min(b, s.end)) for a, b in children.get(i, [])
            ]
            out.append((s.end - s.start) - union_seconds(clipped))
        return out

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [
                    {**asdict(s), "self_s": st}
                    for s, st in zip(self.spans, selfs)
                ],
                fh,
            )


class QueryClock:
    """Per-query latency of the leaderboard pipeline, taken at the layer
    boundaries ``run_workload`` calls: a query starts when its SQL is
    rewritten for the layout and ends when ``run_with_metrics`` returns."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self._started = 0.0

    def started(self) -> None:
        self._started = time.perf_counter()

    def ended(self) -> None:
        self.latencies.append(time.perf_counter() - self._started)


def install(tracer: Tracer, clock: QueryClock, counters: "SparkCounters | None"):
    """Rebind the leaderboard pipeline's layer calls in ``plans.workload``
    to span-recording wrappers.  With ``counters``, each
    ``run_with_metrics`` call also records its harvest time: its wall minus
    the duration of the SQL executions it started.  Returns the undo."""
    from bigdatastructure_a5_spark.plans import workload

    orig = {
        "materialize_variant": workload.materialize_variant,
        "rewrite_for_variant": workload.rewrite_for_variant,
        "run_with_metrics": workload.run_with_metrics,
        "write": workload.WorkloadReport.write,
    }

    def rewrite(*args, **kwargs):
        clock.started()
        with tracer.span("sql_front.rewrite"):
            return orig["rewrite_for_variant"](*args, **kwargs)

    def run_with_metrics(*args, **kwargs):
        before = counters.mark() if counters else None
        with tracer.span("metrics.run") as s:
            out = orig["run_with_metrics"](*args, **kwargs)
        clock.ended()
        if counters:
            sql_s = counters.execution_seconds(before, counters.mark())
            counters.harvest_s += max(0.0, (s.end - s.start) - sql_s)
        return out

    workload.materialize_variant = tracer.wrap(
        "workload.materialize", orig["materialize_variant"]
    )
    workload.rewrite_for_variant = rewrite
    workload.run_with_metrics = run_with_metrics
    workload.WorkloadReport.write = tracer.wrap("workload.report", orig["write"])

    def undo() -> None:
        workload.materialize_variant = orig["materialize_variant"]
        workload.rewrite_for_variant = orig["rewrite_for_variant"]
        workload.run_with_metrics = orig["run_with_metrics"]
        workload.WorkloadReport.write = orig["write"]

    return undo


@dataclass
class Mark:
    job: int
    execution: int


class SparkCounters:
    """Spark counters per operation, attributed by the range of job ids
    and SQL execution ids that ran during it (jobs on stream threads
    included), read from the status stores that back the Spark UI.

    Scheduler counters come from the stages of those jobs.  Scan bytes
    come from the scan nodes' "size of files read" SQL metric of those
    executions: the stages' input bytes miss local parquet reads."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self._next_execution = 0
        self._seen_stages: set[int] = set()
        self.harvest_s = 0.0
        self.mark()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def _job(self, jid: int):
        from py4j.protocol import Py4JJavaError

        try:
            return self._store.job(jid)
        except Py4JJavaError:
            return None

    def _advance(self) -> None:
        while self._job(self._next_job) is not None:
            self._next_job += 1
        # execution ids come from a JVM-wide counter: step over short gaps
        probe = self._next_execution
        while probe < self._next_execution + 8:
            if self._sql.execution(probe).isDefined():
                self._next_execution = probe = probe + 1
            else:
                probe += 1

    def mark(self) -> Mark:
        self.drain()
        self._advance()
        return Mark(self._next_job, self._next_execution)

    def collect(self, a: Mark, b: Mark) -> dict:
        """Totals over the jobs with ids in ``[a.job, b.job)`` and the SQL
        executions with ids in ``[a.execution, b.execution)``."""
        now_ms = time.time() * 1000.0
        out = dict(
            jobs=0, stages=0, tasks=0, single_task_stages=0, executor_run_s=0.0,
            gc_s=0.0, scan_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
        )
        intervals = []
        batches: set[tuple[str, str]] = set()
        for jid in range(a.job, b.job):
            jd = self._store.job(jid)
            out["jobs"] += 1
            sub = jd.submissionTime()
            if sub.isDefined():
                done = jd.completionTime()
                end = done.get().getTime() if done.isDefined() else now_ms
                intervals.append((sub.get().getTime() / 1000.0, end / 1000.0))
            desc = jd.description()
            if desc.isDefined():
                fields = dict(
                    line.split(" = ", 1)
                    for line in str(desc.get()).splitlines()
                    if " = " in line
                )
                if "runId" in fields and fields.get("batch", "init") != "init":
                    batches.add((fields["runId"], fields["batch"]))
            ids = str(jd.stageIds().mkString(","))
            for sid in (int(x) for x in ids.split(",") if x):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                self._add_stage(sid, out)
        for eid in range(a.execution, b.execution):
            out["scan_bytes"] += self._files_read(eid)
        out["job_intervals"] = intervals
        out["micro_batches"] = batches
        return out

    def _files_read(self, eid: int) -> float:
        values = self._sql.executionMetrics(eid)
        total = 0.0
        nodes = self._sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if not str(node.name()).startswith("Scan"):
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == "size of files read" and values.contains(m.accumulatorId()):
                    total += parse_size(str(values.apply(m.accumulatorId())))
        return total

    def _add_stage(self, sid: int, out: dict) -> None:
        from py4j.protocol import Py4JJavaError

        try:
            sd = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            return
        if str(sd.status().toString()) == "SKIPPED":
            return
        out["stages"] += 1
        tasks = sd.numCompleteTasks() + sd.numFailedTasks()
        out["tasks"] += tasks
        out["single_task_stages"] += 1 if sd.numTasks() == 1 else 0
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["gc_s"] += sd.jvmGcTime() / 1000.0
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.diskBytesSpilled()

    def execution_seconds(self, a: Mark, b: Mark) -> float:
        """Summed duration of the SQL executions with ids in
        ``[a.execution, b.execution)``."""
        total = 0.0
        for eid in range(a.execution, b.execution):
            ex = self._sql.execution(eid)
            if not ex.isDefined():
                continue
            e = ex.get()
            if e.completionTime().isDefined():
                total += (e.completionTime().get().getTime() - e.submissionTime()) / 1000.0
        return total
