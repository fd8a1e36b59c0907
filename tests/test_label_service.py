"""SERVICE wikibase:label: the ranked term table is built once per
engine and (languages, kind) on the engine's own default graph, and
per query under a FROM dataset or inside a SERVICE body. Every scope
answers what it answered when the table was rebuilt per query."""

from __future__ import annotations

import json

import pytest

from graphdb_wikidata_spark.engine import GraphEngine
from graphdb_wikidata_spark.model.schema import statements_from_quads

G1 = "http://example.org/g1"
SVC = "http://example.org/svc/labels"

QUADS = [
    ("Q1", "P2", "Q3", "s1"),
    ("Q1", ("label", "de"), "Belgien", None),
    ("Q1", ("label", "en"), "Belgium", None),
    ("Q1", ("alias", "en"), "Kingdom of Belgium", None),
    ("Q1", ("alias", "en"), "BE", None),
    ("Q3", ("label", "en"), "Europe", None),
    ("Q3", "P2", "Q1", "s2"),
    # named graph g1: other terms for Q1, and Q4 with a French label only
    ("Q1", ("label", "en"), "Belgium in g1", None, G1),
    ("Q1", ("alias", "en"), "BE", None, G1),
    ("Q1", ("alias", "en"), "Belgique", None, G1),
    ("Q4", ("label", "fr"), "Quatre", None, G1),
    ("Q4", "P2", "Q1", "s3", G1),
]
REMOTE_QUADS = [
    ("Q1", "P9", "Q3", "r1"),
    ("Q1", ("label", "en"), "Remote Belgium", None),
    ("Q3", ("label", "fr"), "Europe distante", None),
]


def _labels(langs):
    return f'SERVICE wikibase:label {{ bd:serviceParam wikibase:language "{langs}". }}'


def _q(n):
    return ["entity", "Q", n, None]


def _s(text):
    return ["str", "string", None, text]


# query -> its rows, each a list of (t, k, e, s) cells in column order
CASES = {
    "fallback_de_en": (
        f"SELECT ?s ?sLabel ?sAltLabel ?sDescription WHERE {{ ?s wdt:P2 ?o . {_labels('de,en')} }}",
        [[_q(1), _s("Belgien"), _s("BE, Kingdom of Belgium"), None],
         [_q(3), _s("Europe"), None, None]],
    ),
    "fallback_en_de": (
        f"SELECT ?s ?sLabel ?sAltLabel WHERE {{ ?s wdt:P2 ?o . {_labels('en,de')} }}",
        [[_q(1), _s("Belgium"), _s("BE, Kingdom of Belgium")], [_q(3), _s("Europe"), None]],
    ),
    "two_targets": (
        f"SELECT ?s ?o ?sLabel ?oLabel WHERE {{ ?s wdt:P2 ?o . {_labels('de,en')} }}",
        [[_q(1), _q(3), _s("Belgien"), _s("Europe")], [_q(3), _q(1), _s("Europe"), _s("Belgien")]],
    ),
    # GRAPH scopes the pattern, not the lookup: labels come from the default graph
    "graph": (
        f"SELECT ?s ?sLabel ?oLabel WHERE {{ GRAPH <{G1}> {{ ?s wdt:P2 ?o . }} {_labels('fr,en')} }}",
        [[_q(4), None, _s("Belgium")]],
    ),
    # FROM makes g1 the default graph, so its terms answer
    "from": (
        f"SELECT ?s ?sLabel ?sAltLabel FROM <{G1}> WHERE {{ ?s wdt:P2 ?o . {_labels('fr,en')} }}",
        [[_q(4), _s("Quatre"), None]],
    ),
    "from_aliases": (
        f"SELECT ?o ?oLabel ?oAltLabel FROM <{G1}> WHERE {{ ?s wdt:P2 ?o . {_labels('en')} }}",
        [[_q(1), _s("Belgium in g1"), _s("BE, Belgique")]],
    ),
    "service_inner": (
        f"SELECT ?a ?aLabel ?b WHERE {{ SERVICE <{SVC}> {{ {{ SELECT ?a ?aLabel ?b WHERE "
        f"{{ ?a wdt:P9 ?b . {_labels('en')} }} }} }} }}",
        [[_q(1), _s("Remote Belgium"), _q(3)]],
    ),
    # an outer label SERVICE still labels what a subquery projects,
    # whether it comes before or after the subquery
    "outer_before_subquery": (
        f"SELECT ?a ?aLabel WHERE {{ {_labels('en')} {{ SELECT ?a WHERE {{ ?a wdt:P2 ?o . }} }} }}",
        [[_q(1), _s("Belgium")], [_q(3), _s("Europe")]],
    ),
    "outer_after_subquery": (
        f"SELECT ?a ?aLabel WHERE {{ {{ SELECT ?a WHERE {{ ?a wdt:P2 ?o . }} }} {_labels('en')} }}",
        [[_q(1), _s("Belgium")], [_q(3), _s("Europe")]],
    ),
    "service_outer": (
        f"SELECT ?a ?b ?bLabel WHERE {{ SERVICE <{SVC}> {{ ?a wdt:P9 ?b . }} {_labels('fr,en')} }}",
        [[_q(1), _q(3), _s("Europe")]],
    ),
}


def _rows(df):
    cols = df.columns
    cell = lambda c: None if c is None else [c["t"], c["k"], c["e"], c["s"]]  # noqa: E731
    return sorted(([cell(r[c]) for c in cols] for r in df.collect()), key=json.dumps)


@pytest.fixture(scope="module")
def eng(spark):
    e = GraphEngine(spark, statements_from_quads(spark, QUADS))
    e.register_service(SVC, statements_from_quads(spark, REMOTE_QUADS))
    return e


def test_label_scopes(eng):
    """Every case twice, in an order where each FROM query follows a
    default-graph query with the same languages: a kept table must not
    leak into another scope."""
    for _ in range(2):
        for name, (query, want) in CASES.items():
            assert _rows(eng.sql(query)) == sorted(want, key=json.dumps), name


def _point_label(subject):
    return f"SELECT ?o ?oLabel WHERE {{ wd:Q{subject} wdt:P2 ?o . {_labels('de,en')} }}"


def test_second_label_request_reuses_table(spark):
    """The first label request builds the ranked table; a request about
    another subject joins the kept table, launching fewer Spark jobs,
    and answers what a fresh engine answers."""
    st = statements_from_quads(spark, QUADS)
    e = GraphEngine(spark, st)
    sc = spark.sparkContext

    def jobs(group, query):
        sc.setJobGroup(group, group)
        try:
            body = e.sql_json(query)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return body, len(sc.statusTracker().getJobIdsForGroup(group))

    first, n_first = jobs("label-first", _point_label(1))
    second, n_second = jobs("label-second", _point_label(3))
    assert n_second < n_first
    assert second == GraphEngine(spark, st).sql_json(_point_label(3))
    assert first == GraphEngine(spark, st).sql_json(_point_label(1))
    assert json.loads(second)["results"]["bindings"] == [{
        "o": {"type": "uri", "value": "http://www.wikidata.org/entity/Q1"},
        "oLabel": {"type": "literal", "value": "Belgien"},
    }]
