"""The benchmark's workloads. Each drives the program only through its
public surfaces and returns a ``Result``.

serve_point   closed loop, one client per core, selective SPARQL
              lookups over HTTP against the TPC-H-derived graph.
batch_graph   the write path: a generated Wikidata dump goes through
              load_dump -> write_statements -> GraphEngine.from_parquet
              -> verification queries -> PageRank + connected components.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import urllib.error
import urllib.parse
import urllib.request
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import stats
import tracing

# The serving graph: TPC-H-shaped tables at scale 0.005 (7,500 orders,
# 750 customers), generated from a fixed seed. An endpoint serves one
# dataset; the run's seed varies the traffic.
SERVE_SF = 0.005
SERVE_DATA_SEED = 0
# items in the dump (about 26k statements)
DUMP_ITEMS = 2_000
PAGERANK_ITERATIONS = 10
# batch_graph: refreshes in set-up, and measured refreshes per run, at least
WARMUP_REFRESHES = 1
MIN_REFRESHES = 4

LAYER_METRICS = {
    "server.self_ms": "ms",
    "server.non200": "count",
    "api.sql_calls": "count",
    "api.plan_cache_hit_ratio": "ratio",
    "api.warm_s": "s",
    "parser.parse_ms": "ms",
    "compiler.compile_ms": "ms",
    "json_result.to_sparql_json_ms": "ms",
    "exec.jobs_per_query": "count",
    "exec.tasks_per_query": "count",
    "storage.build_s": "s",
    "storage.statements": "count",
    "storage.cached_mb": "MB",
    "ingest.load_write_s": "s",
    "ingest.statements": "count",
    "ingest.bytes_per_stmt": "B",
    "ingest.to_query_s": "s",
    "graph.edges_s": "s",
    "graph.pagerank_s": "s",
    "graph.components_s": "s",
    "jvm.gc_ms": "ms",
    "proc.python_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "proc.peak_rss_mb": "MB",
    "trace.latency_ms": "ms",
}
END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)


@dataclass
class Ctx:
    """What a workload gets from the command line and the runner."""

    seed: int
    seconds: float
    trace: bool
    inputs: str  # cache of generated inputs, kept across runs
    scratch: str  # this run's outputs, removed when the run ends
    start_spark: object  # () -> SparkSession
    clients: int = 1
    max_requests: "int | None" = None


def _layers_with_defaults(measured: dict) -> dict:
    """Every per-layer metric; a layer the workload does not exercise
    reads 0."""
    return {name: float(measured.get(name, 0.0)) for name in LAYER_METRICS}


def _server_layers(tracer: tracing.Tracer, samples) -> dict:
    """HTTP-side time: client latency minus the engine span, per request."""
    engine_s = tracer.total_s("api.sql_json")
    return {
        "server.self_ms": 1000.0 * (sum(s.latency for s in samples) - engine_s) / len(samples),
        "server.non200": sum(1 for s in samples if s.status != 200),
    }


def _query_layers(tracer: tracing.Tracer) -> dict:
    sql_calls = tracer.counts.get("api.sql", 0)
    compiles = len(tracer.durations("compiler.compile"))
    queries = tracer.counts.get("exec.queries", 0) or 1
    return {
        "api.sql_calls": sql_calls,
        "api.plan_cache_hit_ratio": 1.0 - compiles / sql_calls if sql_calls else 0.0,
        "parser.parse_ms": tracer.mean_ms("parser.parse_query"),
        "compiler.compile_ms": tracer.mean_ms("compiler.compile"),
        "json_result.to_sparql_json_ms": tracer.mean_ms("json_result.to_sparql_json"),
        "exec.jobs_per_query": tracer.counts.get("exec.jobs", 0) / queries,
        "exec.tasks_per_query": tracer.counts.get("exec.tasks", 0) / queries,
    }


# --------------------------------------------------------------------------
# serve_point
# --------------------------------------------------------------------------


@dataclass
class Sample:
    kind: str
    key: int
    latency: float
    status: int
    body: str


class Server:
    """``run_server`` on an in-process thread, on an ephemeral port."""

    def __init__(self, engine):
        from graphdb_wikidata_spark.server import run_server

        self.httpd = run_server(engine, port=0)
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()
        self.url = f"http://127.0.0.1:{self.httpd.server_port}/query?query="

    def get(self, query: str) -> "tuple[int, str]":
        try:
            with urllib.request.urlopen(self.url + urllib.parse.quote(query), timeout=120) as r:
                return r.status, r.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode("utf-8", "replace")
        except OSError as e:
            return 0, str(e)

    def close(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=30)


def closed_loop(server: Server, streams, seconds: float, max_requests: "int | None"):
    """One thread per stream; each sends its next request only after
    the previous reply. Returns (samples, elapsed seconds)."""
    samples: list[Sample] = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds

    def client(reqs):
        mine = []
        for kind, key, query in reqs[: max_requests or len(reqs)]:
            if max_requests is None and time.perf_counter() >= deadline:
                break
            ts = time.perf_counter()
            status, body = server.get(query)
            mine.append(Sample(kind, key, time.perf_counter() - ts, status, body))
        with lock:
            samples.extend(mine)

    threads = [threading.Thread(target=client, args=(s,)) for s in streams]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return samples, time.perf_counter() - t0


def count_failed(samples, truth: checks.PointTruth) -> int:
    """Requests that were refused, failed, or answered wrongly."""
    return sum(1 for s in samples if s.status != 200 or not truth.check(s.kind, s.key, s.body))


def _tpch_inputs(ctx: Ctx, seed: int, sf: float) -> str:
    d = os.path.join(ctx.inputs, f"tpch-seed{seed}-sf{sf}")
    if not os.path.exists(os.path.join(d, "done")):
        gen.write_tpch(d, seed, sf)
        open(os.path.join(d, "done"), "w").close()
    return d


def serve_point(ctx: Ctx) -> Result:
    from graphdb_wikidata_spark.engine.api import GraphEngine
    from graphdb_wikidata_spark.engine.tpch_graph import materialized_statements

    tpch_dir = _tpch_inputs(ctx, SERVE_DATA_SEED, SERVE_SF)
    truth = checks.PointTruth(tpch_dir)
    counts = gen.tpch_counts(SERVE_SF)
    per_client = ctx.max_requests or 4000
    streams = gen.point_stream(ctx.seed, ctx.clients, per_client, counts["orders"], counts["customer"])

    t0 = time.perf_counter()
    spark = ctx.start_spark()
    tb = time.perf_counter()
    st = materialized_statements(spark, tpch_dir)
    tw = time.perf_counter()
    engine = GraphEngine(spark, st).warm()
    t_warm = time.perf_counter()
    tracer = tracing.Tracer() if ctx.trace else None
    if tracer:
        tracer.install()
        engine = tracing.TracedEngine(engine, tracer)
    server = Server(engine)
    try:
        # the first requests in a fresh JVM pay class loading and JIT:
        # part of getting ready, not of serving
        t_first = time.perf_counter()
        warm_samples, _ = closed_loop(server, [[(k, 0, gen.point_query(k, 0))] for k in gen.POINT_KINDS], 0, 1)
        setup_s = time.perf_counter() - t0
        if tracer:
            tracer.reset()
        win = tracing.ResourceWindow(spark)
        samples, elapsed = closed_loop(server, streams, ctx.seconds, ctx.max_requests)
        used = win.close()
    finally:
        server.close()
        if tracer:
            tracer.uninstall()

    lat = [s.latency for s in samples]
    res = Result(attempted=len(warm_samples) + len(samples))
    res.failed = count_failed(warm_samples + samples, truth)
    peak_rss = tracing.peak_rss_mb(tracing.jvm_pid(spark))
    res.notes.update(requests=len(samples), peak_rss_mb=peak_rss, setup_parts_s={
        "session": tb - t0, "store_build": tw - tb, "warm": t_warm - tw,
        "first_requests": t0 + setup_s - t_first,
    })
    by_kind: dict[str, list] = {}
    for s in samples:
        by_kind.setdefault(s.kind, []).append(s.latency)
    kind_ms = {k: 1000.0 * stats.median(v) for k, v in by_kind.items()}
    res.notes["kind_median_ms"] = kind_ms
    res.notes["median_ms"] = 1000.0 * stats.median(lat)
    tail = stats.highest_tail(lat)
    if tail:
        res.notes[f"latency_p{tail[0]:g}_ms"] = 1000.0 * tail[1]
    res.end_to_end = {
        "setup_s": setup_s,
        # each kind is a third of the traffic and the kinds' latencies
        # differ by 2-3x: the median of the mixture jumps between the
        # kinds' modes from run to run, the mean of their medians does not
        "latency_ms": sum(kind_ms.values()) / len(kind_ms),
        "throughput_per_s": len(samples) / elapsed,
    }
    if tracer:
        tracing.count_jobs(spark, tracer)
        res.layers = _layers_with_defaults({
            **_query_layers(tracer),
            **_server_layers(tracer, samples),
            **used,
            "api.warm_s": t_warm - tw,
            "storage.build_s": tw - tb,
            "storage.statements": st.count(),
            "storage.cached_mb": tracing.cached_mb(spark),
            "proc.peak_rss_mb": peak_rss,
            "trace.latency_ms": res.end_to_end["latency_ms"],
        })
    return res


# --------------------------------------------------------------------------
# batch_graph
# --------------------------------------------------------------------------


def _dump_inputs(ctx: Ctx, seed: int, n: int) -> "tuple[str, gen.DumpTruth]":
    """The dump for (seed, n), generated once per input cache."""
    path = os.path.join(ctx.inputs, f"dump-seed{seed}-n{n}.json")
    truth_path = path + ".truth.json"
    if not os.path.exists(truth_path):
        truth = gen.write_dump(path, seed, n)
        with open(truth_path + ".part", "w") as f:
            json.dump(truth.__dict__, f)
        os.replace(truth_path + ".part", truth_path)
    with open(truth_path) as f:
        d = json.load(f)
    d["claims_by_pred"] = {int(k): v for k, v in d["claims_by_pred"].items()}
    return path, gen.DumpTruth(**d)


def verification_queries(truth: gen.DumpTruth):
    """(sparql, var, expected value) triples the ingested graph must answer."""
    link = gen.P_LINK[0]
    return [
        (f"SELECT (COUNT(?o) AS ?n) WHERE {{ ?s wdt:P{p} ?o . }}", "n", str(truth.claims_by_pred.get(p, 0)))
        for p in (link, gen.P_COORD, gen.P_QTY)
    ]


@dataclass
class Refresh:
    latency: float = 0.0
    load_write_s: float = 0.0
    to_query_s: float = 0.0
    warm_s: float = 0.0
    edges_s: float = 0.0
    pagerank_s: float = 0.0
    components_s: float = 0.0
    statements: int = 0
    store_bytes: int = 0
    attempted: int = 0
    failed: int = 0
    used: dict = field(default_factory=dict)  # CPU and GC of the timed part


def refresh(spark, dump: str, truth: gen.DumpTruth, out: str, tracer=None) -> Refresh:
    """Ingest one dump into a fresh store, answer the verification
    queries, run the graph analytics, check everything."""
    from pyspark.sql import functions as F

    from graphdb_wikidata_spark.engine.api import GraphEngine
    from graphdb_wikidata_spark.ingest import load_dump, write_statements
    from graphdb_wikidata_spark.operators.graph import connected_components, pagerank

    r = Refresh()
    win = tracing.ResourceWindow(spark)
    t0 = time.perf_counter()
    write_statements(load_dump(spark, dump), out)
    t1 = time.perf_counter()
    engine = GraphEngine.from_parquet(spark, out).warm()
    t2 = time.perf_counter()
    if tracer is not None:
        engine = tracing.TracedEngine(engine, tracer)
    answers = []
    for i, (q, var, want) in enumerate(verification_queries(truth)):
        answers.append((checks.single_value(engine.sql_json(q), var), want))
        if i == 0:
            r.to_query_s = time.perf_counter() - t0
    t3 = time.perf_counter()
    edges = (
        spark.read.parquet(out)
        .filter((F.col("subject_kind") == "Q") & (F.col("pred_kind") == "P") & (F.col("obj_type") == "entity"))
        .select(F.col("subject_id").alias("src"), F.col("obj_entity_id").alias("dst"))
        .localCheckpoint()
    )
    t4 = time.perf_counter()
    ranks = [(row["node"], row["rank"]) for row in pagerank(edges, PAGERANK_ITERATIONS).collect()]
    t5 = time.perf_counter()
    comps = [(row["node"], row["comp"]) for row in connected_components(edges).collect()]
    t6 = time.perf_counter()
    r.used = win.close()
    r.latency = t6 - t0
    r.load_write_s, r.warm_s = t1 - t0, t2 - t1
    r.edges_s, r.pagerank_s, r.components_s = t4 - t3, t5 - t4, t6 - t5

    # checks, outside the timed region
    r.statements = _parquet_rows(out)
    r.store_bytes = sum(
        os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet")
    )
    edge_arr = np.asarray(truth.edges, dtype=np.int64)
    results = [got == want for got, want in answers] + [
        r.statements == truth.statements,
        checks.pagerank_matches(ranks, edge_arr, PAGERANK_ITERATIONS),
        checks.components_match(comps, edge_arr),
    ]
    r.attempted = len(results)
    r.failed = results.count(False)
    shutil.rmtree(out, ignore_errors=True)
    return r


def _parquet_rows(path: str) -> int:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT count(*) FROM read_parquet(?)", [os.path.join(path, "*.parquet")]
        ).fetchone()[0]
    finally:
        con.close()


def _stages(r: Refresh) -> dict:
    return {"total": r.latency, "load_write": r.load_write_s, "warm": r.warm_s,
            "queries": r.to_query_s - r.load_write_s - r.warm_s, "edges": r.edges_s,
            "pagerank": r.pagerank_s, "components": r.components_s}


def batch_graph(ctx: Ctx) -> Result:
    dump, truth = _dump_inputs(ctx, ctx.seed, DUMP_ITEMS)

    t0 = time.perf_counter()
    spark = ctx.start_spark()
    # A fresh JVM spends most of its first refresh loading classes and
    # compiling code, and the next ones keep getting faster while hot
    # code is recompiled; a long-running ingest service pays this once
    # at start, so refreshes of the same dump are part of getting ready.
    warm = [refresh(spark, dump, truth, os.path.join(ctx.scratch, f"warm-store-{i}"))
            for i in range(WARMUP_REFRESHES)]
    setup_s = time.perf_counter() - t0

    tracer = tracing.Tracer() if ctx.trace else None
    if tracer:
        tracer.install()
    runs: list[Refresh] = []
    try:
        # the same refresh, repeated for the window: one refresh is a
        # single sample of a shared machine, the median of several is not
        deadline = time.perf_counter() + ctx.seconds
        while len(runs) < MIN_REFRESHES or time.perf_counter() < deadline:
            out = os.path.join(ctx.scratch, f"store-{len(runs)}")
            runs.append(refresh(spark, dump, truth, out, tracer))
    finally:
        if tracer:
            tracer.uninstall()

    def med(attr):
        return stats.median([getattr(r, attr) for r in runs])

    res = Result(attempted=sum(r.attempted for r in warm + runs),
                 failed=sum(r.failed for r in warm + runs))
    statements = runs[0].statements
    res.end_to_end = {
        "setup_s": setup_s,
        "latency_ms": 1000.0 * med("latency"),
        "throughput_per_s": stats.median([r.statements / r.load_write_s for r in runs]),
    }
    peak_rss = tracing.peak_rss_mb(tracing.jvm_pid(spark))
    res.notes.update(
        peak_rss_mb=peak_rss, statements=statements, setup_refresh_s=[_stages(r) for r in warm],
        refreshes=len(runs), refresh_s=[r.latency for r in runs],
        to_query_s=med("to_query_s"),
        analytics_s=stats.median([r.edges_s + r.pagerank_s + r.components_s for r in runs]),
    )
    if tracer:
        tracing.count_jobs(spark, tracer)
        used = {k: sum(r.used[k] for r in runs) / len(runs) for k in runs[0].used}
        res.layers = _layers_with_defaults({
            **_query_layers(tracer),
            **used,
            "api.warm_s": med("warm_s"),
            "ingest.load_write_s": med("load_write_s"),
            "ingest.statements": statements,
            "ingest.bytes_per_stmt": runs[0].store_bytes / statements,
            "ingest.to_query_s": med("to_query_s"),
            "graph.edges_s": med("edges_s"),
            "graph.pagerank_s": med("pagerank_s"),
            "graph.components_s": med("components_s"),
            "proc.peak_rss_mb": peak_rss,
            "trace.latency_ms": res.end_to_end["latency_ms"],
        })
    return res


WORKLOADS = {"serve_point": serve_point, "batch_graph": batch_graph}
