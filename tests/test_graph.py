"""Graph analytics unit tests on small explicit graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graphdb_wikidata_spark.operators import graph as graph_mod
from graphdb_wikidata_spark.operators.graph import (
    bfs_distances,
    connected_components,
    pagerank,
)


@pytest.fixture(scope="module")
def tri_plus_pair(spark):
    # triangle 1-2-3 (directed cycle) + disjoint edge 10->11
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11)], "src long, dst long"
    )


def test_pagerank_redistribute_sums_to_one(tri_plus_pair):
    r = pagerank(tri_plus_pair, iterations=15)
    total = r.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-6
    ranks = {row["node"]: row["rank"] for row in r.collect()}
    # cycle nodes are symmetric
    assert abs(ranks[1] - ranks[2]) < 1e-6 and abs(ranks[2] - ranks[3]) < 1e-6
    # 11 receives from 10, so it outranks 10
    assert ranks[11] > ranks[10]


def _power_iteration(edges, iterations, damping, dangling):
    """PageRank by direct power iteration over a multigraph edge list."""
    nodes = sorted({v for e in edges for v in e})
    n = len(nodes)
    deg = {v: 0 for v in nodes}
    for u, _ in edges:
        deg[u] += 1
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += rank[u] / deg[u]
        share = sum(rank[v] for v in nodes if deg[v] == 0) / n if dangling == "redistribute" else 0.0
        rank = {v: (1.0 - damping) / n + damping * (contrib[v] + share) for v in nodes}
    return rank


@pytest.mark.parametrize("dangling", ["redistribute", "drop"])
def test_pagerank_matches_power_iteration(spark, dangling):
    # sinks 6, 7 and 8; 5 has no in-edge; 1 -> 2 twice; 4 -> 4 only
    edges = [(1, 2), (1, 2), (2, 3), (3, 1), (3, 4), (4, 4), (5, 1), (1, 6), (3, 7), (2, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, 12, 0.85, dangling=dangling).collect()}
    want = _power_iteration(edges, 12, 0.85, dangling)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=1e-12, abs=0), (dangling, v)
    if dangling == "redistribute":
        assert sum(got.values()) == pytest.approx(1.0, rel=1e-12)


@pytest.mark.parametrize("edge", [(-(2**63), 1), (1, -(2**63))])
def test_pagerank_sentinel_id_raises(spark, edge):
    df = spark.createDataFrame([edge, (1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="sentinel"):
        pagerank(df, 3)


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_pagerank_superstep_jobs(spark, tri_plus_pair):
    """A superstep is one aggregate exchange: five more supersteps,
    one lineage cut among them, cost at most two Spark jobs each."""
    ten = _jobs(spark, "pagerank-10", lambda: pagerank(tri_plus_pair, 10).collect())
    five = _jobs(spark, "pagerank-5", lambda: pagerank(tri_plus_pair, 5).collect())
    assert ten - five <= 10, (ten, five)


def test_connected_components_two_islands(tri_plus_pair):
    comp = {r["node"]: r["comp"] for r in connected_components(tri_plus_pair).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_bfs_distances_cycle(tri_plus_pair):
    d = {r["node"]: r["dist"] for r in bfs_distances(tri_plus_pair, source=1).collect()}
    assert d == {1: 0, 2: 1, 3: 2}


def _chain(spark, n):
    """Directed path 1 -> 2 -> ... -> n."""
    return spark.range(1, n).select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))


def test_bfs_distances_deep_chain(spark):
    # an exhaustive search runs past any small cap (50 hops used to stop it at 51 rows)
    d = {r["node"]: r["dist"] for r in bfs_distances(_chain(spark, 61), source=1).collect()}
    assert d == {v: v - 1 for v in range(1, 62)}


def test_bfs_distances_beyond_max_hops_raises(spark, monkeypatch):
    monkeypatch.setattr(graph_mod, "MAX_HOPS", 5)
    with pytest.raises(RuntimeError, match="did not drain"):
        bfs_distances(_chain(spark, 10), source=1)


def _hop_jobs(kind, spark, monkeypatch, n):
    """Spark jobs of one kind of frontier search over an n-node chain."""
    if kind == "bfs":
        edges = _chain(spark, n)
        return _jobs(spark, f"hops-bfs-{n}", lambda: bfs_distances(edges, source=1).collect())
    if kind == "closure":
        from graphdb_wikidata_spark.engine import paths as paths_mod

        monkeypatch.setattr(paths_mod, "SEMINAIVE_THRESHOLD", 0)
        step = spark.createDataFrame([(i, i + 1) for i in range(1, n)], "a int, b int")
        return _jobs(
            spark,
            f"hops-closure-{n}",
            lambda: paths_mod._transitive_closure(step, "a", "b").collect(),
        )
    from graphdb_wikidata_spark.engine import GraphEngine
    from graphdb_wikidata_spark.model.schema import statements_from_quads

    quads = [(f"Q{i}", "P1", f"Q{i + 1}", f"s{i}") for i in range(1, n)]
    eng = GraphEngine(spark, statements_from_quads(spark, quads))
    return _jobs(
        spark,
        f"hops-path-{n}",
        lambda: eng.sql("SELECT ?x WHERE { wd:Q1 wdt:P1+ ?x . }").collect(),
    )


@pytest.mark.parametrize("kind", ["bound_path", "closure", "bfs"])
def test_frontier_search_jobs_per_hop(spark, monkeypatch, kind):
    """Ten more hops of a frontier search cost at most 8 Spark jobs
    each: a bound-endpoint path (`wd:Q1 wdt:P1+ ?x`), the semi-naive
    closure and bfs_distances all run the one frontier loop."""
    short = _hop_jobs(kind, spark, monkeypatch, 11)
    deep = _hop_jobs(kind, spark, monkeypatch, 21)
    assert deep - short <= 80, (kind, deep, short)


def test_connected_components_deep_chain_log_rounds(spark):
    """Diameter independence: a 301-node path graph must converge
    within max_iters=12 — O(log n) hooking rounds. Label propagation
    (O(diameter)) would need ~100+ rounds and now RAISES instead of
    silently returning partial labels, so this pins both the round
    complexity and the loud-failure contract."""
    from graphdb_wikidata_spark.operators.graph import connected_components

    edges = spark.range(300).select(
        (F.col("id") + 1000).alias("src"), (F.col("id") + 1001).alias("dst")
    )
    comp = connected_components(edges, max_iters=12)
    rows = comp.collect()
    assert len(rows) == 301
    assert {r["comp"] for r in rows} == {1000}


def test_connected_components_nonconvergence_raises(spark):
    from graphdb_wikidata_spark.operators.graph import connected_components

    edges = spark.range(60).select(
        (F.col("id") + 1).alias("src"), (F.col("id") + 2).alias("dst")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=1)


def test_triangle_count_invariants(spark):
    from graphdb_wikidata_spark.operators.dedup import _shingled, minhash_candidates
    from graphdb_wikidata_spark.operators.graph import QUERIES as GQ

    sf = "/root/testdata/sf0.001"
    rows = GQ["graph_triangle_count"](spark, sf).collect()
    assert rows
    total = sum(r.n_triangles for r in rows)
    # every triangle contributes exactly 3 node participations
    assert total % 3 == 0 and total > 0
    # triangle members are candidate-graph nodes
    cand = minhash_candidates(_shingled(spark, sf)).collect()
    nodes = {r.doc_a for r in cand} | {r.doc_b for r in cand}
    assert {r.doc_id for r in rows} <= nodes
