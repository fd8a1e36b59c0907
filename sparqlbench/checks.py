"""Correctness checkers. Every check compares the program's answer with
a value computed without the program: DuckDB over the generated base
parquet, the dump generator's own counts, or NumPy."""

from __future__ import annotations

import json
import os

import numpy as np

from gen import CUST_BASE, ORDER_BASE

ENTITY = "http://www.wikidata.org/entity/Q"


class PointTruth:
    """Base-table values the point lookups must return, read with DuckDB."""

    def __init__(self, tpch_dir: str):
        import duckdb

        con = duckdb.connect()
        try:
            o = con.execute(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM read_parquet(?) "
                "ORDER BY o_orderkey",
                [os.path.join(tpch_dir, "orders.parquet")],
            ).fetchall()
            c = con.execute(
                "SELECT c_custkey, c_name FROM read_parquet(?)",
                [os.path.join(tpch_dir, "customer.parquet")],
            ).fetchall()
        finally:
            con.close()
        self.order = {k: (cust, status, price) for k, cust, status, price in o}
        self.cust_name = dict(c)
        self.cust_orders: dict[int, set] = {}
        for k, cust, _, _ in o:
            self.cust_orders.setdefault(cust, set()).add(k)

    def check(self, kind: str, k: int, body: str) -> bool:
        """True when ``body`` (SPARQL-JSON) is the right answer."""
        try:
            rows = json.loads(body)["results"]["bindings"]
            if kind == "order_star":
                cust, status, price = self.order[k]
                (row,) = rows
                return (
                    row["cust"]["value"] == f"{ENTITY}{CUST_BASE + cust}"
                    and row["status"]["value"] == status
                    and abs(float(row["price"]["value"]) - price) <= 1e-9 * max(1.0, abs(price))
                )
            if kind == "customer_orders":
                got = sorted(r["o"]["value"] for r in rows)
                want = sorted(f"{ENTITY}{ORDER_BASE + o}" for o in self.cust_orders.get(k, ()))
                return got == want
            if kind == "customer_label":
                cust = self.order[k][0]
                (row,) = rows
                return (
                    row["cust"]["value"] == f"{ENTITY}{CUST_BASE + cust}"
                    and row["custLabel"]["value"] == self.cust_name[cust]
                )
        except (KeyError, ValueError, TypeError):
            return False
        raise ValueError(kind)


def single_value(body: str, var: str) -> "str | None":
    """The one binding of ``var`` in a one-row SPARQL-JSON result."""
    try:
        (row,) = json.loads(body)["results"]["bindings"]
        return row[var]["value"]
    except (KeyError, ValueError, TypeError):
        return None


def pagerank_reference(edges: np.ndarray, iterations: int = 10, damping: float = 0.85):
    """(nodes, ranks): PageRank by power iteration over a multigraph
    edge list (shape [m, 2], src -> dst), uniform start, dangling mass
    spread uniformly — operators.graph.pagerank's 'redistribute'
    definition."""
    nodes, idx = np.unique(edges, return_inverse=True)
    idx = idx.reshape(edges.shape)
    src, dst = idx[:, 0], idx[:, 1]
    n = len(nodes)
    deg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = deg == 0
    rank = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, rank[src] / deg[src])
        rank = (1.0 - damping) / n + damping * (contrib + rank[dangling].sum() / n)
    return nodes, rank


def components_reference(edges: np.ndarray) -> dict:
    """node -> smallest node id in its undirected component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges.tolist():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {x: find(x) for x in parent}


def pagerank_matches(rows, edges: np.ndarray, iterations: int, rel_tol: float = 1e-9) -> bool:
    """``rows``: (node, rank) pairs from the program."""
    nodes, ranks = pagerank_reference(edges, iterations)
    want = dict(zip(nodes.tolist(), ranks.tolist()))
    got = dict(rows)
    if got.keys() != want.keys():
        return False
    return all(abs(got[k] - v) <= rel_tol * v for k, v in want.items())


def components_match(rows, edges: np.ndarray) -> bool:
    """``rows``: (node, component) pairs from the program."""
    return dict(rows) == components_reference(edges)
