"""Spans and counters recorded from the benchmark's side of each layer
boundary, plus process-level resource probes.

``Tracer.install`` wraps the engine's public parse / compile / serialize
entry points for the duration of a traced window; ``Tracer.uninstall``
puts the originals back. ``TracedEngine`` is what the HTTP server is
handed in a traced window: it tags each request's Spark jobs with a job
group so the status tracker can count jobs and tasks per query.
"""

from __future__ import annotations

import itertools
import os
import resource
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: "str | None"
    request: "str | None"


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list = []
        self.groups: list[str] = []

    # -- recording ------------------------------------------------------

    @contextmanager
    def span(self, name: str, request: "str | None" = None):
        """Time the block. Nested spans on the same thread record this
        one as their parent and inherit its request id."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        outer_request = getattr(self._local, "request", None)
        request = request or outer_request
        self._local.request = request
        stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self._local.request = outer_request
            with self._lock:
                self.spans.append(Span(name, t0, t1, parent, request))

    def reset(self) -> None:
        """Forget what was recorded so far (wrappers stay installed)."""
        with self._lock:
            self.spans, self.counts, self.groups = [], {}, []

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def mean_ms(self, name: str) -> float:
        d = self.durations(name)
        return 1000.0 * sum(d) / len(d) if d else 0.0

    def total_s(self, name: str) -> float:
        return sum(self.durations(name))

    # -- wrapping the engine's entry points -----------------------------

    def install(self) -> None:
        from graphdb_wikidata_spark.engine import api, compiler

        tracer = self
        orig_parse = api.parse_query
        orig_json = api.to_sparql_json
        orig_compile = compiler.Compiler.compile
        orig_sql = api.GraphEngine.sql

        def parse_query(*a, **kw):
            with tracer.span("parser.parse_query"):
                return orig_parse(*a, **kw)

        def to_sparql_json(*a, **kw):
            with tracer.span("json_result.to_sparql_json"):
                return orig_json(*a, **kw)

        def compile_(self_, *a, **kw):
            # Compiler.compile recurses over the algebra tree: time the
            # outermost call only
            if "compiler.compile" in tracer._stack():
                return orig_compile(self_, *a, **kw)
            with tracer.span("compiler.compile"):
                return orig_compile(self_, *a, **kw)

        def sql(self_, *a, **kw):
            tracer.count("api.sql")
            return orig_sql(self_, *a, **kw)

        api.parse_query = parse_query
        api.to_sparql_json = to_sparql_json
        compiler.Compiler.compile = compile_
        api.GraphEngine.sql = sql
        self._undo = [
            (api, "parse_query", orig_parse),
            (api, "to_sparql_json", orig_json),
            (compiler.Compiler, "compile", orig_compile),
            (api.GraphEngine, "sql", orig_sql),
        ]

    def uninstall(self) -> None:
        for owner, attr, orig in self._undo:
            setattr(owner, attr, orig)
        self._undo = []


class TracedEngine:
    """Stands in for a GraphEngine behind ``run_server``: each
    ``sql_json`` call runs under its own Spark job group and records an
    engine span plus the jobs and tasks the group launched."""

    _ids = itertools.count()

    def __init__(self, engine, tracer: Tracer):
        self._engine = engine
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._engine, name)

    def sql_json(self, query, max_rows=None, **ds):
        sc = self._engine.spark.sparkContext
        group = f"sparqlbench-{next(self._ids)}"
        self._tracer.count("exec.queries")
        with self._tracer._lock:
            self._tracer.groups.append(group)
        sc.setJobGroup(group, "sparqlbench request", interruptOnCancel=False)
        try:
            with self._tracer.span("api.sql_json", request=group):
                return self._engine.sql_json(query, max_rows, **ds)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)


def count_jobs(spark, tracer: Tracer) -> None:
    """Add the jobs and tasks of every request group to the tracer's
    counts. The status store is fed by Spark's asynchronous listener
    bus, so drain it first."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    for group in tracer.groups:
        for j in tracker.getJobIdsForGroup(group):
            tracer.count("exec.jobs")
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = tracker.getStageInfo(s)
                tracer.count("exec.tasks", st.numTasks if st else 0)
    tracer.groups = []


# --------------------------------------------------------------------------
# process probes (Linux /proc)
# --------------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _status_kb(pid: "int | str", field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(pid: int) -> float:
    """Peak resident set of this Python process plus the JVM."""
    return (_status_kb("self", "VmHWM") + _status_kb(pid, "VmHWM")) / 1024.0


def cpu_s(pid: int) -> "tuple[float, float]":
    """(python, jvm) user+system CPU seconds so far."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    tick = os.sysconf("SC_CLK_TCK")
    return ru.ru_utime + ru.ru_stime, (int(fields[11]) + int(fields[12])) / tick


def gc_ms(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


class ResourceWindow:
    """CPU and GC consumed between ``__init__`` and ``close``."""

    def __init__(self, spark):
        self.spark = spark
        self.pid = jvm_pid(spark)
        self._cpu0 = cpu_s(self.pid)
        self._gc0 = gc_ms(spark)

    def close(self) -> dict:
        py, jvm = cpu_s(self.pid)
        return {
            "jvm.gc_ms": gc_ms(self.spark) - self._gc0,
            "proc.python_cpu_s": py - self._cpu0[0],
            "proc.jvm_cpu_s": jvm - self._cpu0[1],
        }
