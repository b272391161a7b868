"""Spans, py4j round-trip counts and Spark job attribution for a traced run.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into each layer and the parser's ``preprocess``
and ``tokenize`` module functions, py4j traffic is counted by wrapping
the gateway client's ``send_command`` in this process, Spark jobs are
attributed to a span through one job group per span, read back from the
status tracker, and Catalyst phase times are read from the
QueryExecution of every query Spark ran, handed over by a
QueryExecutionListener. Nothing in the engine is changed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import MEMORY_COMMAND_NAME


class Py4jCounter:
    """Counts py4j round trips and the time spent waiting on them.

    Memory-delete commands (``m``) are left out: Python's garbage
    collector sends them for dead JVM references, so their number follows
    GC timing rather than the work the engine asked the JVM to do."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.wait_s = 0.0
        send = self._client.send_command

        def send_command(command, *args, **kwargs):
            if command.startswith(MEMORY_COMMAND_NAME):
                return send(command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(command, *args, **kwargs)
            finally:
                self.calls += 1
                self.wait_s += time.perf_counter() - t0

        # an instance attribute shadows the class method for every
        # JavaMember that holds this client
        self._client.send_command = send_command

    def close(self) -> None:
        del self._client.send_command


def job_stats(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = 0
    for sid in stage_ids:
        info = tracker.getStageInfo(sid)
        # stages a job skipped (shuffle output reused) ran no task
        if info is None or info.numCompletedTasks == 0:
            continue
        stages += 1
        tasks += info.numCompletedTasks
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


PHASES = ("analysis", "optimization", "planning")


class QueryCollector:
    """A QueryExecutionListener served by this process's py4j callback
    server: it keeps the QueryExecution of each query Spark finishes."""

    def __init__(self):
        self.qes = []

    def onSuccess(self, func_name, qe, duration_ns):
        self.qes.append(qe)

    def onFailure(self, func_name, qe, exception):
        self.qes.append(qe)

    def phases_ms(self) -> dict:
        """Catalyst phase times (ms), summed over the collected queries,
        from each one's QueryPlanningTracker."""
        out = dict.fromkeys(PHASES, 0)
        for qe in self.qes:
            phases = qe.tracker().phases()
            for k in PHASES:
                if phases.contains(k):
                    out[k] += phases.apply(k).durationMs()
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans (name, start, end, parent, item) in memory.

    ``span(..., group=g)`` runs its body under Spark job group ``g`` and,
    after the span has closed, attaches the jobs/stages/tasks of that
    group; the status-tracker reads fall in the parent's self time."""

    enabled = True

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started
        from spork_spark.parser import pig

        self.spark = spark
        self.py4j = Py4jCounter(spark)
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()
        ensure_callback_server_started(spark.sparkContext._gateway)
        # PigParser.run looks both functions up in its module: spans
        # around them time the parse every script really makes
        self._parser = {f: getattr(pig, f) for f in ("preprocess", "tokenize")}
        for f, fn in self._parser.items():
            setattr(pig, f, self._spanned(f"parser.{f}", fn))

    def _spanned(self, name: str, fn):
        def traced(*args, **kwargs):
            if not self._stack:  # an untraced pass
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextmanager
    def span(self, name: str, item: str | None = None,
             group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "item": item if item is not None else parent["item"]}
        self.spans.append(rec)
        self._stack.append(rec)
        calls0, wait0 = self.py4j.calls, self.py4j.wait_s
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            rec["py4j_roundtrips"] = self.py4j.calls - calls0
            rec["py4j_wait_s"] = self.py4j.wait_s - wait0
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(job_stats(self.spark, group))

    def begin_pass(self) -> None:
        """Collect every query Spark finishes until ``end_pass``."""
        self._queries = QueryCollector()
        self._listeners().register(self._queries)

    def end_pass(self) -> None:
        self._drain()
        self._listeners().unregister(self._queries)

    @contextmanager
    def item(self, tag: str):
        with self.span("item", item=tag) as rec:
            self._item = rec
            yield rec

    def end_item(self) -> None:
        """After the item's clock has stopped: attach the Catalyst phase
        times of the queries it ran to its span."""
        self._drain()
        self._item["phases"] = self._queries.phases_ms()
        self._queries.qes.clear()

    def _drain(self) -> None:
        # query-end events reach listeners asynchronously
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60000)

    def _listeners(self):
        return self.spark._jsparkSession.listenerManager()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover
        (children of one span never overlap: the benchmark is serial)."""
        covered = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - covered[s["id"]]
                for s in self.spans}

    def close(self) -> None:
        from spork_spark.parser import pig

        for f, fn in self._parser.items():
            setattr(pig, f, fn)
        self.py4j.close()


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, item: str | None = None,
             group: str | None = None):
        yield {}

    def item(self, tag: str):
        return self.span("item")

    def begin_pass(self) -> None:
        pass

    end_pass = end_item = begin_pass
