"""Custom SPARQL extension functions (GraphEngine.register_function) —
the hook the reference declares but panics on (interpreter.rs:655-659,
calc_engine.rs:2930). Covers Column-builder and pandas_udf
registrations, every kind, and the unregistered-IRI error path. The
engine runs over the in-repo tests/data/wikidata_sample.json.

Also pins the compat machinery's action-free compilation (VERDICT r02
task 7): statically-determinable null masks must not launch Spark jobs
at plan time.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from graphdb_wikidata_spark.engine import GraphEngine
from graphdb_wikidata_spark.engine.expressions import unregister_custom_function
from tests.conftest import WIKIDATA_SAMPLE

FIXTURE = WIKIDATA_SAMPLE

EX = "http://example.org/fn/"


@pytest.fixture(scope="module")
def engine(spark):
    from graphdb_wikidata_spark.ingest import load_dump

    df = load_dump(spark, FIXTURE).cache()
    return GraphEngine(spark, df)


def test_column_builder_string_kind(engine):
    engine.register_function(EX + "shout", lambda s: F.upper(s), kind="string")
    try:
        rows = engine.sql(
            f"""
            PREFIX ex: <{EX}>
            SELECT ?u WHERE {{ BIND(ex:shout("hello world") AS ?u) }}
            """
        ).collect()
        assert rows[0]["u"]["s"] == "HELLO WORLD"
    finally:
        unregister_custom_function(EX + "shout")


def test_pandas_udf_registration(engine):
    @pandas_udf("string")
    def rev(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else x[::-1])

    engine.register_function(EX + "rev", rev, kind="string")
    try:
        # over real scanned rows, not a constant: the udf runs
        # Arrow-batched inside the per-row plan
        rows = engine.sql(
            f"""
            PREFIX ex: <{EX}>
            SELECT ?str ?r WHERE {{
              wdt:Q31 ?p ?l . FILTER(isLiteral(?l))
              BIND(STR(?l) AS ?str)
              BIND(ex:rev(?str) AS ?r)
            }}
            """
        ).collect()
        assert rows and all(r["r"]["s"] == r["str"]["s"][::-1] for r in rows)
    finally:
        unregister_custom_function(EX + "rev")


def test_numeric_and_bool_kinds(engine):
    engine.register_function(EX + "half", lambda x: x / 2, kind="numeric")
    engine.register_function(EX + "big", lambda x: x > 1000, kind="bool")
    try:
        rows = engine.sql(
            f"""
            PREFIX ex: <{EX}>
            SELECT ?h ?b WHERE {{
              BIND(ex:half(10) AS ?h) BIND(ex:big(10) AS ?b)
            }}
            """
        ).collect()
        assert rows[0]["h"]["d"] == 5.0
        assert rows[0]["b"]["b"] is False
    finally:
        unregister_custom_function(EX + "half")
        unregister_custom_function(EX + "big")


def test_term_kind_gets_raw_structs(engine):
    # a term-kind function sees the full term struct: echo the type tag
    from graphdb_wikidata_spark.engine.expressions import _plain

    engine.register_function(EX + "kindof", lambda t: _plain(t["t"]), kind="term")
    try:
        rows = engine.sql(
            f'PREFIX ex: <{EX}> SELECT ?k WHERE {{ BIND(ex:kindof(42) AS ?k) }}'
        ).collect()
        assert rows[0]["k"]["s"] == "int"
    finally:
        unregister_custom_function(EX + "kindof")


def test_unregistered_iri_raises(engine):
    with pytest.raises(NotImplementedError, match="not registered"):
        engine.sql(
            f'PREFIX ex: <{EX}> SELECT ?x WHERE {{ BIND(ex:nope(1) AS ?x) }}'
        ).collect()


def test_iri_literal_without_call_still_a_term(engine):
    # the new iriOrFunction parse path must not break plain IRI
    # literals in expression position
    rows = engine.sql(
        "SELECT ?x WHERE { BIND(IF(true, wd:Q31, wd:Q32) AS ?x) }"
    ).collect()
    assert rows[0]["x"]["e"] == 31


def test_custom_aggregate_builtin_builder(engine):
    from graphdb_wikidata_spark.engine.expressions import unregister_custom_aggregate

    engine.register_aggregate(EX + "nvals", lambda v: F.count(v), kind="int")
    try:
        rows = engine.sql(
            f"""
            PREFIX ex: <{EX}>
            SELECT (ex:nvals(?v) AS ?n) WHERE {{ VALUES ?v {{ 1 2 3 }} }}
            """
        ).collect()
        assert rows[0]["n"]["i"] == 3
    finally:
        unregister_custom_aggregate(EX + "nvals")


def test_custom_aggregate_pandas_udf(engine):
    from pyspark.sql.functions import PandasUDFType

    from graphdb_wikidata_spark.engine.expressions import unregister_custom_aggregate

    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def p90(v: pd.Series) -> float:
        return float(v.quantile(0.9, interpolation="lower"))

    engine.register_aggregate(EX + "p90", p90, kind="numeric")
    try:
        rows = engine.sql(
            f"""
            PREFIX ex: <{EX}>
            SELECT (ex:p90(?v) AS ?q) WHERE {{
              VALUES ?v {{ 1 2 3 4 5 6 7 8 9 10 }}
            }}
            """
        ).collect()
        assert rows[0]["q"]["d"] == 9.0  # lower-interpolated p90 of 1..10
    finally:
        unregister_custom_aggregate(EX + "p90")


def test_unregistered_aggregate_iri_raises(engine):
    with pytest.raises(NotImplementedError, match="not registered"):
        engine.sql(
            f'PREFIX ex: <{EX}> SELECT (ex:noagg(?o) AS ?n) WHERE {{ wdt:Q31 ?p ?o . }}'
        ).collect()


# ---------------------------------------------------------------------------
# compat machinery: action-free compilation for static mask shapes
# ---------------------------------------------------------------------------


def test_compat_compile_is_action_free(engine):
    """OPTIONAL/UNION-shaped compat joins must derive their null masks
    from the algebra, not from plan-time Spark jobs (ADVICE r02): fail
    any job launched during Compiler.compile by nuking collect/count.
    """
    from graphdb_wikidata_spark.engine.parser import parse_query

    q = """
    SELECT ?s ?x ?y WHERE {
      { ?s wdt:P31 ?x . OPTIONAL { ?s wdt:P361 ?y } }
      MINUS { ?s wdt:P31 ?y }
      OPTIONAL {
        { ?s wdt:P31 ?y } UNION { ?s wdt:P279 ?x }
      }
    }
    """
    plan = parse_query(q)
    comp = engine._compiler
    comp.stats()  # per-predicate stats are a legitimate one-time build
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):  # pragma: no cover - only fires on regression
        raise AssertionError("plan-time Spark action during compile()")

    orig_collect, orig_count = DataFrame.collect, DataFrame.count
    DataFrame.collect, DataFrame.count = boom, boom
    try:
        comp.compile(plan)
    finally:
        DataFrame.collect, DataFrame.count = orig_collect, orig_count


# ---- round 4: compiled-plan cache ----------------------------------------


def test_plan_cache_hit_and_invalidation(spark):
    from pyspark.sql import functions as F

    from graphdb_wikidata_spark.engine import GraphEngine
    from graphdb_wikidata_spark.model.schema import statements_from_quads

    eng = GraphEngine(spark, statements_from_quads(spark, [("Q1", "P1", "x", "s1")]))
    q = "SELECT ?o WHERE { ?s wdt:P1 ?o }"
    d1 = eng.sql(q)
    d2 = eng.sql(q)
    assert d1 is d2  # cache hit: identical DataFrame object
    # registering a custom function bumps the registry generation and
    # invalidates cached plans (a re-registered IRI must recompile)
    eng.register_function("http://example.org/fn/id", lambda s: s, kind="string")
    try:
        d3 = eng.sql(q)
        assert d3 is not d1
        assert [r["o"]["s"] for r in d3.collect()] == ["x"]
    finally:
        eng.unregister_function("http://example.org/fn/id")
