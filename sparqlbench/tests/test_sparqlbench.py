"""Tests of the benchmark itself: generators, percentile helper,
checkers, and the repeatability of the traced job counts.

Run from the repository root:  python3 -m pytest sparqlbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


def test_dump_is_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in ("a.json", "b.json", "c.json"))
    ta = gen.write_dump(a, seed=5, n=200)
    tb = gen.write_dump(b, seed=5, n=200)
    gen.write_dump(c, seed=6, n=200)
    assert _read(a) == _read(b)
    assert ta == tb
    assert _read(a) != _read(c)
    # the truth matches the file
    lines = _read(a).decode().splitlines()
    assert lines[0] == "[" and lines[-1] == "]" and len(lines) == 202
    ents = [json.loads(x.rstrip(",")) for x in lines[1:-1]]
    claims = sum(len(v) for e in ents for v in e["claims"].values())
    assert claims == ta.claims
    assert sum(len(e["labels"]) for e in ents) == ta.labels == 3 * 200


def test_tpch_tables_are_a_function_of_the_seed(tmp_path):
    for d, seed in (("a", 3), ("b", 3), ("c", 4)):
        gen.write_tpch(str(tmp_path / d), seed, 0.0005)
    for t in ("orders", "customer", "lineitem"):
        name = f"{t}.parquet"
        assert _read(tmp_path / "a" / name) == _read(tmp_path / "b" / name)
        assert _read(tmp_path / "a" / name) != _read(tmp_path / "c" / name)


def test_query_streams_are_a_function_of_the_seed():
    a = gen.point_stream(9, 4, 50, 7500, 750)
    assert a == gen.point_stream(9, 4, 50, 7500, 750)
    assert a != gen.point_stream(10, 4, 50, 7500, 750)
    # every client serves the same mix of request kinds
    for reqs in a:
        kinds = [k for k, _, _ in reqs]
        assert {kinds.count(k) for k in gen.POINT_KINDS} <= {16, 17}


def test_percentile_refuses_a_thin_tail():
    xs = list(range(100))
    assert stats.percentile(xs, 90) == 89  # ten samples beyond it
    with pytest.raises(stats.TooFewSamples):
        stats.percentile(xs, 95)  # five beyond
    assert stats.highest_tail(xs) == (90.0, 89)
    assert stats.highest_tail(list(range(15))) is None


@pytest.fixture(scope="module")
def point_truth(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tpch"))
    gen.write_tpch(d, 1, 0.0005)
    return checks.PointTruth(d)


def _answer(truth: checks.PointTruth, kind: str, k: int) -> str:
    """A correct SPARQL-JSON answer built from the truth tables."""
    ent = checks.ENTITY
    if kind == "order_star":
        cust, status, price = truth.order[k]
        rows = [{"price": {"type": "literal", "value": repr(price)},
                 "status": {"type": "literal", "value": status},
                 "cust": {"type": "uri", "value": f"{ent}{gen.CUST_BASE + cust}"}}]
    elif kind == "customer_orders":
        rows = [{"o": {"type": "uri", "value": f"{ent}{gen.ORDER_BASE + o}"}}
                for o in sorted(truth.cust_orders.get(k, ()))]
    else:
        cust = truth.order[k][0]
        rows = [{"cust": {"type": "uri", "value": f"{ent}{gen.CUST_BASE + cust}"},
                 "custLabel": {"type": "literal", "value": truth.cust_name[cust]}}]
    return json.dumps({"head": {"vars": []}, "results": {"bindings": rows}})


def test_corrupted_answer_counts_as_failed(point_truth):
    cust = next(iter(point_truth.cust_orders))
    good = [
        workloads.Sample(kind, k, 0.1, 200, _answer(point_truth, kind, k))
        for kind, k in (("order_star", 3), ("customer_orders", cust), ("customer_label", 7))
    ]
    assert workloads.count_failed(good, point_truth) == 0
    for i, s in enumerate(good):
        bad = list(good)
        bad[i] = workloads.Sample(s.kind, s.key, s.latency, 200, s.body.replace("0", "1", 1))
        assert workloads.count_failed(bad, point_truth) == 1
    refused = workloads.Sample("order_star", 3, 0.1, 500, good[0].body)
    assert workloads.count_failed(good + [refused], point_truth) == 1


def test_pagerank_and_components_checkers():
    edges = np.array([(1, 2), (2, 3), (3, 1), (3, 4), (7, 8)], dtype=np.int64)
    nodes, ranks = checks.pagerank_reference(edges, 10)
    assert abs(ranks.sum() - 1.0) < 1e-12
    rows = list(zip(nodes.tolist(), ranks.tolist()))
    assert checks.pagerank_matches(rows, edges, 10)
    rows[0] = (rows[0][0], rows[0][1] * (1 + 1e-6))
    assert not checks.pagerank_matches(rows, edges, 10)
    comps = [(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7)]
    assert checks.components_match(comps, edges)
    assert not checks.components_match(comps[:-1] + [(8, 8)], edges)


def _traced_run(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "serve_point",
         "--seed", str(seed), "--seconds", "1", "--trace", "1", "--clients", "1", "--requests", "6"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_jobs_per_query_repeats_exactly():
    a, b = _traced_run(4), _traced_run(4)
    assert a["correct"] and b["correct"]
    ja = a["metrics"]["exec.jobs_per_query"]["value"]
    assert ja > 0
    assert ja == b["metrics"]["exec.jobs_per_query"]["value"]
    assert a["metrics"]["exec.tasks_per_query"] == b["metrics"]["exec.tasks_per_query"]
