"""Subject-star rewrite (property-table transform, SURVEY §4.2's
optional statements self-join rewrite): semantics and applicability.

The rewrite replaces N same-subject patterns with one scan + groupBy
ONLY when every predicate is functional (exactly one statement per
subject). These tests pin the fallback behavior: non-functional
predicates must keep join multiplicity, and partial stars (subject
missing one predicate) must drop the subject like an inner join.
The same holds for a bound subject (``wd:Q1 wdt:P2 ?a ; wdt:P3 ?b``),
which on the subject-partitioned serving store is one Spark job.
"""

from __future__ import annotations

import json
import re

import duckdb
import pytest

from graphdb_wikidata_spark.engine import GraphEngine
from graphdb_wikidata_spark.engine.tpch_graph import materialized_statements
from graphdb_wikidata_spark.model.schema import statements_from_quads
from tests.conftest import SF_SMOKE

# Q1/Q2: both P2 and P3 exactly once -> star-eligible
# Q4: only P2 -> must vanish from the star result (inner join)
# P5 appears twice on Q1 -> NON-functional; joins must fan out
QUADS = [
    ("Q1", "P2", 10, "s1"),
    ("Q1", "P3", "a", "s2"),
    ("Q2", "P2", 20, "s3"),
    ("Q2", "P3", "b", "s4"),
    ("Q4", "P2", 40, "s5"),
    ("Q1", "P5", "x", "s6"),
    ("Q1", "P5", "y", "s7"),
]


@pytest.fixture(scope="module")
def eng(spark):
    return GraphEngine(spark, statements_from_quads(spark, QUADS))


def test_functional_star_fires_and_matches_join_semantics(eng):
    df = eng.sql("SELECT ?s ?a ?b WHERE { ?s wdt:P2 ?a . ?s wdt:P3 ?b . }")
    rows = {(r["s"]["e"], r["a"]["i"], r["b"]["s"]) for r in df.collect()}
    assert rows == {(1, 10, "a"), (2, 20, "b")}  # Q4 dropped: no P3
    # the rewrite actually fired: no join operator in the plan
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "Join" not in plan


def test_non_functional_predicate_falls_back_to_join(eng):
    df = eng.sql("SELECT ?s ?a ?v WHERE { ?s wdt:P2 ?a . ?s wdt:P5 ?v . }")
    rows = {(r["s"]["e"], r["a"]["i"], r["v"]["s"]) for r in df.collect()}
    # P5 is multi-valued on Q1 -> two rows, not a collapsed one
    assert rows == {(1, 10, "x"), (1, 10, "y")}


def test_three_pattern_star(eng):
    df = eng.sql(
        "SELECT ?s ?a ?b (STRLEN(?b) AS ?l) WHERE "
        "{ ?s wdt:P2 ?a . ?s wdt:P3 ?b . FILTER(?a > 5) }"
    )
    rows = {(r["s"]["e"], r["a"]["i"], r["b"]["s"], r["l"]["i"]) for r in df.collect()}
    assert rows == {(1, 10, "a", 1), (2, 20, "b", 1)}


def test_star_with_bound_object_pattern_excluded(eng):
    # the bound-object pattern can't join the star (no plain object
    # var) but still constrains via the shared subject variable
    df = eng.sql('SELECT ?s ?a WHERE { ?s wdt:P2 ?a . ?s wdt:P3 "a" . }')
    rows = {(r["s"]["e"], r["a"]["i"]) for r in df.collect()}
    assert rows == {(1, 10)}


# ---- constant-subject stars ----------------------------------------------


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _objects(subject: str) -> dict:
    """predicate -> object values of ``subject``, read off QUADS."""
    out: dict = {}
    for s, p, o, _ in QUADS:
        if s == subject:
            out.setdefault(p, []).append(o)
    return out


def test_constant_subject_star_is_one_scan(eng):
    df = eng.sql("SELECT ?a ?b WHERE { wd:Q1 wdt:P2 ?a ; wdt:P3 ?b . }")
    plan = _plan(df)
    scans = re.findall(r"^\(\d+\) (\w*Scan\w*)", plan, re.M)
    assert len(scans) == 1, scans
    assert "Join" not in plan
    assert df.columns == ["a", "b"]  # the bound subject is not projected


@pytest.mark.parametrize("subject", ["Q1", "Q2"])
def test_constant_subject_star_answers(eng, subject):
    rows = eng.sql(
        f"SELECT ?a ?b WHERE {{ wd:{subject} wdt:P2 ?a . wd:{subject} wdt:P3 ?b . }}"
    ).collect()
    objs = _objects(subject)
    assert [(r["a"]["i"], r["b"]["s"]) for r in rows] == [(objs["P2"][0], objs["P3"][0])]


def test_constant_subject_missing_predicate_gives_no_rows(eng):
    assert "P3" not in _objects("Q4")
    assert eng.sql("SELECT ?a ?b WHERE { wd:Q4 wdt:P2 ?a ; wdt:P3 ?b . }").count() == 0


def test_constant_subject_non_functional_keeps_fan_out(eng):
    df = eng.sql("SELECT ?a ?v WHERE { wd:Q1 wdt:P2 ?a ; wdt:P5 ?v . }")
    rows = sorted((r["a"]["i"], r["v"]["s"]) for r in df.collect())
    objs = _objects("Q1")
    assert rows == sorted((objs["P2"][0], v) for v in objs["P5"])
    assert "Join" in _plan(df)  # the join path, not the star


G = "http://example.org/g/dup"


@pytest.fixture(scope="module")
def geng(spark):
    # P2 and P3 are functional in the default graph; the named graph
    # holds Q1's P2 claim twice, with different values
    quads = [
        ("Q1", "P2", 10, "s1"),
        ("Q1", "P3", "a", "s2"),
        ("Q1", "P2", 10, "g1", G),
        ("Q1", "P2", 11, "g2", G),
        ("Q1", "P3", "a", "g3", G),
    ]
    return GraphEngine(spark, statements_from_quads(spark, quads))


@pytest.mark.parametrize(
    "query",
    [
        f"SELECT ?a ?b WHERE {{ GRAPH <{G}> {{ wd:Q1 wdt:P2 ?a ; wdt:P3 ?b . }} }}",
        f"SELECT ?a ?b FROM <{G}> WHERE {{ wd:Q1 wdt:P2 ?a ; wdt:P3 ?b . }}",
    ],
    ids=["graph", "from"],
)
def test_constant_subject_star_not_rewritten_in_graph_scope(geng, query):
    rows = sorted((r["a"]["i"], r["b"]["s"]) for r in geng.sql(query).collect())
    assert rows == [(10, "a"), (11, "a")]


def test_point_requests_launch_one_spark_job(spark):
    """On the subject-partitioned persisted store a point request is one
    Spark job: the constant-subject star needs no exchange or
    broadcast, and the result is fetched with one bounded collect."""
    orders = f"read_parquet('{SF_SMOKE}/orders.parquet')"
    okey, cust, status, price = duckdb.sql(
        f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM {orders} "
        "ORDER BY o_orderkey LIMIT 1 OFFSET 7"
    ).fetchone()
    placed = {
        r[0] for r in duckdb.sql(
            f"SELECT o_orderkey FROM {orders} WHERE o_custkey = {cust}"
        ).fetchall()
    }
    e = GraphEngine(spark, materialized_statements(spark, SF_SMOKE)).warm()
    ent = "http://www.wikidata.org/entity/Q"
    star = (
        f"SELECT ?price ?status ?cust WHERE {{ wd:Q{2_000_000 + okey} wdt:P4 ?price ; "
        "wdt:P5 ?status ; wdt:P1 ?cust . }"
    )
    reverse = f"SELECT ?o WHERE {{ ?o wdt:P1 wd:Q{1_000_000 + cust} . }}"
    sc = spark.sparkContext
    bodies, jobs = {}, {}
    for name, q in (("star", star), ("reverse", reverse)):
        e.sql(q)  # compile outside the counted group
        sc.setJobGroup(f"point-{name}", name)
        try:
            bodies[name] = json.loads(e.sql_json(q, max_rows=1_000_000))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"point-{name}"))
    assert jobs == {"star": 1, "reverse": 1}
    (row,) = bodies["star"]["results"]["bindings"]
    assert row["cust"]["value"] == f"{ent}{1_000_000 + cust}"
    assert row["status"]["value"] == status
    assert float(row["price"]["value"]) == pytest.approx(price, rel=1e-12)
    got = {int(b["o"]["value"][len(ent):]) - 2_000_000 for b in bodies["reverse"]["results"]["bindings"]}
    assert got == placed
