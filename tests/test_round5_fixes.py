"""Round-5 regression tests (ADVICE items): packed chunk-key overflow
guard, empty-graph-catalog path with a repeated endpoint var, bounded
edge cache, and compile-once in-flight futures."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from graphdb_wikidata_spark.engine import GraphEngine
from graphdb_wikidata_spark.model.schema import statements_from_quads


# ---- packed chunk key: overflow must raise, not corrupt ------------------


def test_packed_chunk_key_in_bound(spark):
    from graphdb_wikidata_spark.operators.text import _packed_chunk_key

    df = spark.createDataFrame([(7, 3), (7, (1 << 20) - 1)], "doc_id long, pos long")
    vals = [
        r[0]
        for r in df.select(
            _packed_chunk_key(F.col("doc_id"), F.col("pos")).alias("k")
        ).collect()
    ]
    assert vals == [7 * (1 << 20) + 3, 7 * (1 << 20) + (1 << 20) - 1]


def test_packed_chunk_key_overflow_raises(spark):
    from graphdb_wikidata_spark.operators.text import _packed_chunk_key

    df = spark.createDataFrame([(7, 1 << 20)], "doc_id long, pos long")
    with pytest.raises(Exception, match="packed keeper key"):
        df.select(_packed_chunk_key(F.col("doc_id"), F.col("pos")).alias("k")).collect()


# ---- GRAPH ?g { ?x P+ ?x } over a store with no named graphs -------------


def test_path_in_graph_var_same_endpoint_empty_catalog(spark):
    quads = [("Q1", "P1", "Q2", "s1"), ("Q2", "P1", "Q3", "s2")]
    eng = GraphEngine(spark, statements_from_quads(spark, quads))
    df = eng.sql("SELECT ?x ?g WHERE { GRAPH ?g { ?x wdt:P1+ ?x . } }")
    assert df.count() == 0
    assert sorted(df.columns) == ["g", "x"]


# ---- GRAPH ?g closure is ONE grouped loop, not a loop per graph ----------


def test_graph_var_closure_single_loop(spark, monkeypatch):
    from graphdb_wikidata_spark.engine import paths as paths_mod

    # three named graphs, each holding a 3-node chain Q1->Q2->Q3
    quads = []
    for gi in range(3):
        g = f"http://example.org/g/{gi}"
        quads += [
            ("Q1", "P1", "Q2", f"s{gi}a", g),
            ("Q2", "P1", "Q3", f"s{gi}b", g),
        ]
    eng = GraphEngine(spark, statements_from_quads(spark, quads))

    calls = []
    orig = paths_mod._transitive_closure

    def counting(*args, **kwargs):
        calls.append(kwargs.get("group", ()))
        return orig(*args, **kwargs)

    monkeypatch.setattr(paths_mod, "_transitive_closure", counting)
    rows = eng.sql(
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x wdt:P1+ ?y . } }"
    ).collect()
    assert len(calls) == 1, f"expected ONE grouped closure, got {len(calls)}"
    assert calls[0], "closure must carry the graph group key"
    # 3 graphs x 3 closure pairs (1->2, 2->3, 1->3)
    assert len(rows) == 9
    per_graph = {}
    for r in rows:
        per_graph.setdefault(r["g"]["s"], []).append(
            (r["x"]["e"], r["y"]["e"])
        )
    for g, pairs in per_graph.items():
        assert sorted(pairs) == [(1, 2), (1, 3), (2, 3)], (g, pairs)


def test_graph_var_closure_does_not_mix_graphs(spark):
    # chains split ACROSS graphs must not connect: g0 has Q1->Q2,
    # g1 has Q2->Q3 — Q1->Q3 exists in no single graph
    quads = [
        ("Q1", "P1", "Q2", "sa", "http://example.org/g/0"),
        ("Q2", "P1", "Q3", "sb", "http://example.org/g/1"),
    ]
    eng = GraphEngine(spark, statements_from_quads(spark, quads))
    rows = eng.sql(
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x wdt:P1+ ?y . } }"
    ).collect()
    got = sorted((r["g"]["s"][-1], r["x"]["e"], r["y"]["e"]) for r in rows)
    assert got == [("0", 1, 2), ("1", 2, 3)], got


# ---- edge cache is bounded and drops stopped sessions --------------------


def test_edge_cache_bounded():
    from graphdb_wikidata_spark.operators import graph as g

    class FakeSession:
        def __init__(self):
            self.sparkContext = type("SC", (), {"_jsc": object()})()

    saved = dict(g._EDGE_CACHE)
    g._EDGE_CACHE.clear()
    try:
        live = FakeSession()
        for i in range(g._EDGE_CACHE_MAX + 5):
            for k in [
                k
                for k, (sess, _) in g._EDGE_CACHE.items()
                if g._session_stopped(sess)
            ]:
                g._EDGE_CACHE.pop(k, None)
            if len(g._EDGE_CACHE) >= g._EDGE_CACHE_MAX:
                g._EDGE_CACHE.pop(next(iter(g._EDGE_CACHE)), None)
            g._EDGE_CACHE[(id(live), f"/sf{i}", None)] = (live, object())
        assert len(g._EDGE_CACHE) == g._EDGE_CACHE_MAX

        stopped = FakeSession()
        stopped.sparkContext._jsc = None
        g._EDGE_CACHE[(id(stopped), "/sfX", None)] = (stopped, object())
        assert g._session_stopped(stopped) and not g._session_stopped(live)
    finally:
        g._EDGE_CACHE.clear()
        g._EDGE_CACHE.update(saved)


# ---- concurrent identical queries compile once ---------------------------


def test_inflight_futures_compile_once(spark):
    quads = [("Q1", "P1", "apple", "s1"), ("Q2", "P1", "mango", "s2")]
    eng = GraphEngine(spark, statements_from_quads(spark, quads))
    calls = []
    orig = eng._compile_uncached

    def slow(query, dg, ng):
        calls.append(query)
        time.sleep(0.3)
        return orig(query, dg, ng)

    eng._compile_uncached = slow
    q = "SELECT ?s ?o WHERE { ?s wdt:P1 ?o }"
    results = []

    def run():
        results.append(eng.sql(q))

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(calls) == 1, f"expected one compile, got {len(calls)}"
    assert len(results) == 4
    assert all(r is results[0] for r in results)
    assert results[0].count() == 2
    assert not eng._inflight  # drained


def test_inflight_failure_propagates_and_clears(spark):
    quads = [("Q1", "P1", "apple", "s1")]
    eng = GraphEngine(spark, statements_from_quads(spark, quads))
    with pytest.raises(Exception):
        eng.sql("THIS IS NOT SPARQL")
    assert not eng._inflight
    # engine still usable after the failed compile
    assert eng.sql("SELECT ?s WHERE { ?s wdt:P1 ?o }").count() == 1

