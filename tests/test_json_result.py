"""The four result serialisers (engine/json_result.py): bodies, the
per-(format, variable) Column memo, the row cap and the XML character
check, and the py4j traffic of a warm point request."""

from __future__ import annotations

import json
import os
import threading

import pytest
from py4j import clientserver

from graphdb_wikidata_spark.engine import GraphEngine, json_result
from graphdb_wikidata_spark.engine.json_result import NotRepresentable, ResultTooLarge
from graphdb_wikidata_spark.engine.tpch_graph import materialized_statements
from graphdb_wikidata_spark.model.schema import statements_from_quads
from tests.conftest import SF_SMOKE

FORMATS = ("json", "csv", "tsv", "xml")

# IRIs, a plain literal that needs quoting in every text format, typed
# literals, a lang-tagged literal with XML metacharacters, a dateTime;
# p:P2 binds statement nodes and Q3 has no P3 (an unbound cell)
QUADS = [
    ("Q1", "P2", "Q3", "s1"),
    ("Q1", "P3", 'say "hi",\tthen\nleave', "s2"),
    ("Q1", "P4", 5, "s3"),
    ("Q1", "P5", 2.5, "s4"),
    ("Q1", "P6", True, "s5"),
    ("Q1", "P7", {"type": "mono", "obj_string": "hallo & <tschüss>", "obj_lang": "de"}, "s6"),
    ("Q1", "P8", {"type": "time", "obj_time": {
        "year": 2024, "month": 2, "day": 29, "hour": 0, "minute": 0, "second": 0,
        "before": 0, "after": 0, "precision": 11, "tz": 0, "cal": "Q1985727",
    }}, "s7"),
    ("Q3", "P2", "Q1", "s8"),
]

# query -> format -> body, as written by the serialisers when they built
# every result Column from the DataFrame at hand (df[v]) per request
with open(os.path.join(os.path.dirname(__file__), "data", "result_bodies.json"), encoding="utf-8") as f:
    BODIES = json.load(f)


@pytest.fixture(scope="module")
def eng(spark):
    return GraphEngine(spark, statements_from_quads(spark, QUADS))


def _serialise(eng, fmt, query, max_rows=None):
    return getattr(eng, "sql_" + fmt)(query, max_rows)


@pytest.mark.parametrize("fmt", FORMATS)
@pytest.mark.parametrize("query", sorted(BODIES))
def test_bodies_unchanged(eng, query, fmt):
    # twice: the first request may build the result Columns, the second reuses them
    assert _serialise(eng, fmt, query) == BODIES[query][fmt]
    assert _serialise(eng, fmt, query) == BODIES[query][fmt]


def test_result_columns_built_once(spark, monkeypatch):
    """A request over variables already served builds no result Column."""
    eng = GraphEngine(spark, statements_from_quads(spark, QUADS))
    for fmt in FORMATS:
        _serialise(eng, fmt, "SELECT ?p ?o WHERE { wd:Q1 ?p ?o . }")
    calls = []

    def counted(fn):
        def wrapper(c):
            calls.append(fn.__name__)
            return fn(c)

        return wrapper

    for name in ("_cell", "render", "_tsv_term"):
        monkeypatch.setattr(json_result, name, counted(getattr(json_result, name)))
    for fmt in FORMATS:
        _serialise(eng, fmt, "SELECT ?p ?o WHERE { wd:Q3 ?p ?o . }")
    assert calls == []
    # a new variable is built once per format family: JSON and XML
    # share _cell (which, like _tsv_term, calls render inside)
    for fmt in FORMATS:
        _serialise(eng, fmt, "SELECT ?fresh WHERE { wd:Q3 wdt:P2 ?fresh . }")
    assert (calls.count("_cell"), calls.count("_tsv_term")) == (1, 1)
    assert set(calls) == {"_cell", "_tsv_term", "render"}


@pytest.mark.parametrize("fmt", FORMATS)
def test_row_cap_still_raises(eng, fmt):
    q = "SELECT ?s WHERE { ?s wdt:P2 ?o . }"
    for _ in range(2):
        with pytest.raises(ResultTooLarge):
            _serialise(eng, fmt, q, max_rows=1)
    assert _serialise(eng, fmt, q, max_rows=2)


def test_xml_control_character_still_refused(eng):
    q = 'SELECT ?x WHERE { BIND("a\\u0001b" AS ?x) }'
    for _ in range(2):
        with pytest.raises(NotRepresentable):
            eng.sql_xml(q)
    assert json.loads(eng.sql_json(q))["results"]["bindings"] == [
        {"x": {"type": "literal", "value": "a\u0001b"}}
    ]


@pytest.fixture()
def py4j_commands(monkeypatch):
    """Counts this thread's py4j commands, except the ``m`` (memory)
    commands: those detach garbage-collected JVM references, and when
    they run depends on Python's collector."""
    seen = {"n": 0}
    me = threading.get_ident()
    send = clientserver.ClientServerConnection.send_command

    def counted(self, command, *a, **kw):
        if threading.get_ident() == me and not command.startswith("m\n"):
            seen["n"] += 1
        return send(self, command, *a, **kw)

    monkeypatch.setattr(clientserver.ClientServerConnection, "send_command", counted)
    return seen


def _star(okey):
    o = f"wd:Q{2_000_000 + okey}"
    return f"SELECT ?price ?status ?cust WHERE {{ {o} wdt:P4 ?price . {o} wdt:P5 ?status . {o} wdt:P1 ?cust . }}"


def test_point_request_py4j_budget(spark, py4j_commands):
    """A warm point request costs a few dozen py4j round trips, not one
    per node of every result Column (the serialisers used to send
    865-3,019 for an order star on a plan-cache hit)."""
    e = GraphEngine(spark, materialized_statements(spark, SF_SMOKE)).warm()
    queries = {
        "star": _star(7),
        "reverse": "SELECT ?o WHERE { ?o wdt:P1 wd:Q1000007 . }",
        "label": (
            "SELECT ?cust ?custLabel WHERE { wd:Q2000007 wdt:P1 ?cust . "
            'SERVICE wikibase:label { bd:serviceParam wikibase:language "en". } }'
        ),
    }
    for q in queries.values():
        for fmt in FORMATS:
            _serialise(e, fmt, q, 1000)
    counts = {}
    for name, q in queries.items():
        for fmt in FORMATS:
            py4j_commands["n"] = 0
            _serialise(e, fmt, q, 1000)
            counts[name, fmt] = py4j_commands["n"]
    assert max(counts.values()) <= 32, counts
    py4j_commands["n"] = 0
    e.sql_json(_star(8), 1000)  # a new key: parse, compile, plan
    assert py4j_commands["n"] <= 200
