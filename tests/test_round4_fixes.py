"""Round-4 regression tests: internal-column hygiene in ORDER BY,
let-binding name collisions, FROM-merge set semantics, SPARQL Protocol
dataset parameters, and bounded result serialization."""

from __future__ import annotations

import pytest

from graphdb_wikidata_spark.engine import GraphEngine
from graphdb_wikidata_spark.engine.json_result import (
    ResultTooLarge,
    to_sparql_csv,
    to_sparql_json,
    to_sparql_tsv,
    to_sparql_xml,
)
from graphdb_wikidata_spark.model.schema import statements_from_quads

G1 = "http://example.org/g/one"
G2 = "http://example.org/g/two"


@pytest.fixture(scope="module")
def eng(spark):
    quads = [
        ("Q1", "P1", "apple", "s1"),
        ("Q2", "P1", "zebra", "s2"),
        ("Q3", "P1", "mango", "s3"),
    ]
    return GraphEngine(spark, statements_from_quads(spark, quads))


# ---- ORDER BY must not leak internal let-binding columns -----------------


def test_select_star_orderby_expr_no_internal_columns(eng):
    df = eng.sql("SELECT * WHERE { ?s wdt:P1 ?o } ORDER BY DESC(STR(?o))")
    assert sorted(df.columns) == ["o", "s"]
    rows = df.collect()
    assert [r["o"]["s"] for r in rows] == ["zebra", "mango", "apple"]


def test_distinct_orderby_expr_no_internal_columns(eng):
    df = eng.sql("SELECT DISTINCT ?o WHERE { ?s wdt:P1 ?o } ORDER BY STRLEN(STR(?o))")
    assert df.columns == ["o"]
    assert df.count() == 3


def test_user_variable_named_like_binding_survives(eng):
    # ?__x0 is a lexically valid SPARQL variable; the expression
    # compiler's internal let-bindings must not overwrite it
    df = eng.sql(
        'SELECT ?s ?__x0 WHERE { ?s wdt:P1 ?__x0 . FILTER(STRLEN(STR(?__x0)) > 4) }'
    )
    assert sorted(df.columns) == ["__x0", "s"]
    vals = sorted(r["__x0"]["s"] for r in df.collect())
    assert vals == ["apple", "mango", "zebra"]


# ---- FROM merge = RDF set union (SPARQL 1.1 §13.2) -----------------------


def test_from_merge_dedups_shared_triple(spark):
    quads = [
        ("Q1", "P1", "Q2", "sA", G1),
        ("Q1", "P1", "Q2", "sB", G2),  # same triple, second graph
        ("Q1", "P1", "Q3", "sC", G2),
    ]
    e = GraphEngine(spark, statements_from_quads(spark, quads))
    rows = e.sql(
        f"SELECT ?o FROM <{G1}> FROM <{G2}> WHERE {{ wd:Q1 wdt:P1 ?o }}"
    ).collect()
    assert sorted(r["o"]["e"] for r in rows) == [2, 3]
    rows1 = e.sql(f"SELECT ?o FROM <{G1}> WHERE {{ wd:Q1 wdt:P1 ?o }}").collect()
    assert [r["o"]["e"] for r in rows1] == [2]


def test_from_set_semantics_consistent_within_one_graph(spark):
    # the same (s,p,o) stored twice in ONE graph (distinct statement
    # ids): ANY dataset clause yields set semantics — one solution —
    # regardless of how many FROM graphs are listed, and a repeated
    # FROM <g> FROM <g> changes nothing
    quads = [
        ("Q1", "P1", "Q2", "dupA", G1),
        ("Q1", "P1", "Q2", "dupB", G1),
    ]
    e = GraphEngine(spark, statements_from_quads(spark, quads))
    for q in (
        f"SELECT ?o FROM <{G1}> WHERE {{ wd:Q1 wdt:P1 ?o }}",
        f"SELECT ?o FROM <{G1}> FROM <{G1}> WHERE {{ wd:Q1 wdt:P1 ?o }}",
        f"SELECT ?o FROM <{G1}> FROM <{G2}> WHERE {{ wd:Q1 wdt:P1 ?o }}",
    ):
        rows = e.sql(q).collect()
        assert [r["o"]["e"] for r in rows] == [2], q


# ---- Protocol dataset parameters (SPARQL 1.1 Protocol §2.1.4) ------------


@pytest.fixture(scope="module")
def geng(spark):
    quads = [
        ("Q1", "P1", "Q2", "d1"),  # default graph
        ("Q1", "P1", "Q4", "g1", G1),
        ("Q1", "P1", "Q6", "g2", G2),
    ]
    return GraphEngine(spark, statements_from_quads(spark, quads))


def test_protocol_params_override_query_from(geng):
    rows = geng.sql(
        f"SELECT ?o FROM <{G2}> WHERE {{ wd:Q1 wdt:P1 ?o }}",
        default_graphs=(G1,),
    ).collect()
    assert [r["o"]["e"] for r in rows] == [4]


def test_protocol_params_wrap_plain_query(geng):
    rows = geng.sql(
        "SELECT ?g ?o WHERE { GRAPH ?g { wd:Q1 wdt:P1 ?o } }",
        default_graphs=(),
        named_graphs=(G2,),
    ).collect()
    assert [(r["g"]["s"], r["o"]["e"]) for r in rows] == [(G2, 6)]


def test_no_protocol_params_is_unchanged(geng):
    rows = geng.sql("SELECT ?o WHERE { wd:Q1 wdt:P1 ?o }").collect()
    assert [r["o"]["e"] for r in rows] == [2]


# ---- bounded result serialization ----------------------------------------


def test_serializers_respect_max_rows(eng):
    df = eng.sql("SELECT ?s ?o WHERE { ?s wdt:P1 ?o }")  # 3 rows
    for serialize in (to_sparql_json, to_sparql_csv, to_sparql_tsv, to_sparql_xml):
        for cap in (1, 2):
            with pytest.raises(ResultTooLarge):
                serialize(df, max_rows=cap)
        # exactly at the cap, and under it: serializes normally
        for cap in (3, 4):
            out = serialize(df, max_rows=cap)
            for value in ("apple", "zebra", "mango"):
                assert value in out, (serialize.__name__, cap)


def test_large_result_streams_without_collect(spark):
    # a real 100k-row result through the one bounded collect that every
    # serializer shares, pinning the path end-to-end at that size
    quads = [("Q1", "P1", f"v{i}", f"s{i}") for i in range(100_000)]
    e = GraphEngine(spark, statements_from_quads(spark, quads))
    out = to_sparql_csv(e.sql("SELECT ?o WHERE { ?s wdt:P1 ?o }"))
    assert out.count("\r\n") == 100_001  # header + 100k rows
