"""Parser robustness: any input either parses or raises SyntaxError —
never an unhandled internal exception (IndexError/KeyError/
RecursionError/AttributeError), matching the reference server's
contract of 400-with-message on bad queries (server.rs:110-127) — and
string literals decode exactly the SPARQL escapes, rejecting any other."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from graphdb_wikidata_spark.engine.parser import Parser, parse_query

TOKENS = [
    "SELECT", "WHERE", "{", "}", "(", ")", "?x", "?y", "*", ".", ";", ",",
    "OPTIONAL", "UNION", "MINUS", "FILTER", "BIND", "AS", "GRAPH", "SERVICE",
    "FROM", "NAMED", "VALUES", "UNDEF", "ORDER", "BY", "LIMIT", "OFFSET",
    "GROUP", "HAVING", "DISTINCT", "REDUCED", "ASK", "CONSTRUCT", "DESCRIBE",
    "wd:Q1", "wdt:P1", "p:P2", "ps:P2", "pq:P3", "<http://x/>", '"lit"',
    '"t"@en', "42", "3.5", "true", "a", "|", "/", "^", "+", "!", "=", ">",
    "&&", "||", "STRLEN", "COUNT", "EXISTS", "NOT", "IN", "IF", "COALESCE",
]


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(toks=st.lists(st.sampled_from(TOKENS), min_size=1, max_size=30))
def test_token_soup_parses_or_syntax_errors(toks):
    try:
        Parser(" ".join(toks)).parse_query()
    except SyntaxError:
        pass  # the contract: a clean parse error


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(text=st.text(max_size=60))
def test_arbitrary_text_parses_or_syntax_errors(text):
    try:
        Parser(text).parse_query()
    except SyntaxError:
        pass


# ---- string escapes (SPARQL 1.1 grammar: ECHAR [160], UCHAR) -------------


def _bound_string(literal: str) -> str:
    plan = parse_query(f"SELECT ?x WHERE {{ BIND({literal} AS ?x) }}")
    return plan.input.expr.term.s


@pytest.mark.parametrize(
    "literal, value",
    [
        (r'"a\u0001b"', "a\x01b"),
        (r'"\u00e9t\u00C9"', "étÉ"),
        (r'"x\U0001F600y"', "x\U0001f600y"),
        (r'"\b\f"', "\b\f"),
        (r'"\t\n\r\"\'\\"', "\t\n\r\"'\\"),
        (r"'''a\'b\u0041'''", "a'bA"),
    ],
)
def test_string_escapes_decode(literal, value):
    assert _bound_string(literal) == value


@pytest.mark.parametrize(
    "literal",
    [r'"a\qb"', r'"\u12"', r'"\U0001F60"', r'"\uD800"', r'"\U00110000"', r'"\."'],
)
def test_escape_outside_echar_uchar_is_syntax_error(literal):
    with pytest.raises(SyntaxError):
        _bound_string(literal)
