"""HTTP endpoint: 200 SPARQL-JSON, 400 on parse error, CORS header —
the reference server contract (server.rs:24-141)."""

from __future__ import annotations

import http.client
import json
import threading
import urllib.parse
import urllib.request

import pytest

from graphdb_wikidata_spark.engine import GraphEngine
from graphdb_wikidata_spark.model.schema import statements_from_quads
from graphdb_wikidata_spark.server import run_server


@pytest.fixture(scope="module")
def srv(spark):
    quads = [("Q1", "P2", "Q3", "s1"), ("Q4", "P2", "Q3", "s2")]
    engine = GraphEngine(spark, statements_from_quads(spark, quads))
    server = run_server(engine, port=0)  # ephemeral port
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, dict(r.headers), r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read().decode()


def test_query_ok(srv):
    q = urllib.parse.quote("SELECT ?s WHERE { ?s wdt:P2 wdt:Q3 . }")
    status, headers, body = _get(f"{srv}/query?query={q}")
    assert status == 200
    assert headers["Access-Control-Allow-Origin"] == "*"
    doc = json.loads(body)
    assert doc["head"]["vars"] == ["s"]
    assert len(doc["results"]["bindings"]) == 2


def test_parse_error_400(srv):
    q = urllib.parse.quote("SELECT WHERE garbage {{{")
    status, _, body = _get(f"{srv}/query?query={q}")
    assert status == 400
    assert "error" in json.loads(body)


def test_missing_query_400(srv):
    status, _, _ = _get(f"{srv}/query")
    assert status == 400


def test_cli_repl(spark):
    """REPL surface (reference cli.rs:70-128): blank-line-terminated
    query blocks print result tables; parse errors are surfaced, not
    fatal."""
    import io

    from graphdb_wikidata_spark.server import run_cli

    quads = [("Q1", "P2", "Q3", "s1"), ("Q4", "P2", "Q3", "s2")]
    engine = GraphEngine(spark, statements_from_quads(spark, quads))
    inp = io.StringIO("SELECT ?s WHERE { ?s wdt:P2 wd:Q3 . }\n\nnot sparql\n\n")
    out = io.StringIO()
    run_cli(engine, inp=inp, out=out)
    text = out.getvalue()
    assert "error:" in text  # second block failed, REPL survived


def test_sparql_json_typed_rendering(spark):
    """W3C JSON cell typing per term type (reference RDF term rendering
    data_types.rs:69-242): uri for entities, plain / lang-tagged /
    datatyped literals for the value types."""
    from graphdb_wikidata_spark.engine.json_result import to_sparql_json

    quads = [
        ("Q1", "P2", "Q3", "s1"),
        ("Q1", "P3", "hello", "s2"),
        ("Q1", "P4", 5, "s3"),
        ("Q1", "P5", 2.5, "s4"),
        ("Q1", "P6", True, "s5"),
        ("Q1", "P7", {"type": "mono", "obj_string": "hallo", "obj_lang": "de"}, "s6"),
    ]
    engine = GraphEngine(spark, statements_from_quads(spark, quads))
    doc = json.loads(to_sparql_json(engine.sql("SELECT ?p ?o WHERE { wd:Q1 ?p ?o . }")))
    assert doc["head"]["vars"] == ["p", "o"]
    cells = {b["p"]["value"].rsplit("/P", 1)[-1]: b["o"] for b in doc["results"]["bindings"]}
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert cells["2"]["type"] == "uri" and cells["2"]["value"].endswith("Q3")
    assert cells["3"] == {"type": "literal", "value": "hello"}
    assert cells["4"] == {"type": "literal", "value": "5", "datatype": xsd + "integer"}
    assert cells["5"]["datatype"] == xsd + "double"
    assert cells["6"]["datatype"] == xsd + "boolean"
    assert cells["7"] == {"type": "literal", "value": "hallo", "xml:lang": "de"}


def test_frontend_index(srv):
    """GET / serves the static HTML frontend (reference
    frontend/index.html + app.js, served by warp)."""
    status, headers, body = _get(f"{srv}/")
    assert status == 200
    assert headers["Content-Type"].startswith("text/html")
    assert "<form" in body and "/app.js" in body


def test_frontend_script(srv):
    status, headers, body = _get(f"{srv}/app.js")
    assert status == 200
    assert "javascript" in headers["Content-Type"]
    # the script drives the same /query contract the tests above pin
    assert "/query?query=" in body


def test_cli_repl_plan_and_exit(spark):
    """Parity touches: the REPL prints the algebra plan before results
    (reference prints its operator tree, cli.rs:98-105) and the literal
    'exit' quits without consuming the rest of the input."""
    import io

    from graphdb_wikidata_spark.server import run_cli

    quads = [("Q1", "P2", "Q3", "s1")]
    engine = GraphEngine(spark, statements_from_quads(spark, quads))
    inp = io.StringIO("SELECT ?s WHERE { ?s wdt:P2 wd:Q3 . }\n\nexit\nnot sparql\n\n")
    out = io.StringIO()
    run_cli(engine, inp=inp, out=out)
    text = out.getvalue()
    assert "plan:" in text
    assert "error:" not in text  # 'exit' stopped before the bad block


def test_csv_results_format(srv):
    # W3C SPARQL 1.1 CSV results: bare-var header, plain lexical
    # values, RFC 4180 quoting, CRLF lines (an extension — the
    # reference serves JSON only)
    q = urllib.parse.quote(
        'SELECT ?s ?x WHERE { ?s wdt:P2 wdt:Q3 . BIND("a,\\"b" AS ?x) }'
    )
    status, headers, body = _get(f"{srv}/query?query={q}&format=csv")
    assert status == 200
    assert headers["Content-Type"].startswith("text/csv")
    lines = body.split("\r\n")
    assert lines[0] == "s,x"
    assert len([ln for ln in lines if ln]) == 3
    # the comma/quote literal is RFC-4180 quoted
    assert all(ln.endswith(',"a,""b"') for ln in lines[1:] if ln)
    assert "http://www.wikidata.org/entity/Q1" in body


def test_tsv_results_format_via_accept(srv):
    q = urllib.parse.quote("SELECT ?s ?n WHERE { ?s wdt:P2 wdt:Q3 . BIND(5 AS ?n) }")
    req = urllib.request.Request(
        f"{srv}/query?query={q}", headers={"Accept": "text/tab-separated-values"}
    )
    with urllib.request.urlopen(req) as r:
        status, headers, body = r.status, dict(r.headers), r.read().decode()
    assert status == 200
    assert headers["Content-Type"].startswith("text/tab-separated-values")
    lines = body.strip().split("\n")
    assert lines[0] == "?s\t?n"
    # IRIs in angle brackets, numerics as bare literals
    assert lines[1].startswith("<http://www.wikidata.org/entity/Q")
    assert lines[1].endswith("\t5")


def test_tsv_escapes_tab_and_carriage_return(srv):
    """A tab or CR inside a literal is written as \\t / \\r (Turtle string
    escapes), so it cannot split a row into extra fields or lines."""
    q = urllib.parse.quote(
        'SELECT ?s ?x WHERE { ?s wdt:P2 wd:Q3 . BIND("a\\tb\\rc" AS ?x) }'
    )
    status, _, body = _get(f"{srv}/query?query={q}&format=tsv")
    assert status == 200
    lines = body.rstrip("\n").split("\n")
    assert lines[0] == "?s\t?x"
    assert len(lines) == 3
    for line in lines:
        assert len(line.split("\t")) == 2, line
    assert lines[1].endswith('\t"a\\tb\\rc"')


def test_post_form_encoded(srv):
    """W3C SPARQL Protocol §2.1.2: POST with url-encoded query= body."""
    data = urllib.parse.urlencode(
        {"query": "SELECT ?s WHERE { ?s wdt:P2 wdt:Q3 . }"}
    ).encode()
    req = urllib.request.Request(f"{srv}/query", data=data)
    with urllib.request.urlopen(req) as r:
        status, body = r.status, r.read().decode()
    assert status == 200
    assert len(json.loads(body)["results"]["bindings"]) == 2


def test_post_direct_sparql_body(srv):
    """§2.1.3: POST with Content-Type application/sparql-query."""
    req = urllib.request.Request(
        f"{srv}/query?format=csv",
        data=b"SELECT ?s WHERE { ?s wdt:P2 wdt:Q3 . }",
        headers={"Content-Type": "application/sparql-query"},
    )
    with urllib.request.urlopen(req) as r:
        status, headers, body = r.status, dict(r.headers), r.read().decode()
    assert status == 200
    assert headers["Content-Type"].startswith("text/csv")
    assert body.splitlines()[0] == "s"


def test_post_parse_error_400(srv):
    data = urllib.parse.urlencode({"query": "SELEC bogus"}).encode()
    req = urllib.request.Request(f"{srv}/query", data=data)
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


@pytest.mark.parametrize("length", ["abc", "-1"])
def test_post_bad_content_length_400(srv, length):
    """A non-integer or negative Content-Length gets a 400 JSON error,
    not a dropped connection or a handler blocked on read(-1)."""
    host, port = urllib.parse.urlsplit(srv).netloc.split(":")
    conn = http.client.HTTPConnection(host, int(port), timeout=30)
    try:
        conn.putrequest("POST", "/query")
        conn.putheader("Content-Type", "application/sparql-query")
        conn.putheader("Content-Length", length)
        conn.endheaders()
        r = conn.getresponse()
        assert r.status == 400
        assert "Content-Length" in json.loads(r.read().decode())["error"]
    finally:
        conn.close()


def test_xml_results_format(srv):
    """W3C SPARQL Results XML: same typed cells as the JSON sink."""
    q = urllib.parse.quote(
        'SELECT ?s ?n ?t WHERE { ?s wdt:P2 wdt:Q3 . BIND(5 AS ?n) BIND("x"@en AS ?t) }'
    )
    status, headers, body = _get(f"{srv}/query?query={q}&format=xml")
    assert status == 200
    assert headers["Content-Type"].startswith("application/sparql-results+xml")
    import xml.etree.ElementTree as ET

    root = ET.fromstring(body)
    ns = {"s": "http://www.w3.org/2005/sparql-results#"}
    names = [v.get("name") for v in root.findall("s:head/s:variable", ns)]
    assert names == ["s", "n", "t"]
    results = root.findall("s:results/s:result", ns)
    assert len(results) == 2
    b0 = {b.get("name"): b for b in results[0].findall("s:binding", ns)}
    assert b0["s"].find("s:uri", ns).text.startswith("http://www.wikidata.org/entity/Q")
    lit_n = b0["n"].find("s:literal", ns)
    assert lit_n.text == "5"
    assert lit_n.get("datatype", "").endswith("integer")
    lit_t = b0["t"].find("s:literal", ns)
    assert lit_t.get("{http://www.w3.org/XML/1998/namespace}lang") == "en"


def test_xml_literal_keeps_carriage_return(srv):
    """CR inside a literal is written as &#13;: a raw CR would be read
    back as LF by XML end-of-line normalisation."""
    import xml.etree.ElementTree as ET

    q = urllib.parse.quote('SELECT ?x WHERE { BIND("a\\rb\\r\\nc" AS ?x) }')
    status, _, body = _get(f"{srv}/query?query={q}&format=xml")
    assert status == 200
    lit = ET.fromstring(body).find(".//{http://www.w3.org/2005/sparql-results#}literal")
    assert lit.text == "a\rb\r\nc"


def test_xml_control_character_406(srv):
    """XML 1.0 cannot carry C0 controls other than TAB, LF and CR, not
    even as character references: the XML format refuses such a
    result with 406, and JSON still serves it."""
    q = urllib.parse.quote('SELECT ?x WHERE { BIND("a\\u0001b" AS ?x) }')
    status, headers, body = _get(f"{srv}/query?query={q}&format=xml")
    assert status == 406
    assert headers["Content-Type"] == "application/json"
    assert "XML" in json.loads(body)["error"]
    status, _, body = _get(f"{srv}/query?query={q}&format=json")
    assert status == 200
    (row,) = json.loads(body)["results"]["bindings"]
    assert row["x"]["value"] == "a\u0001b"


def test_engine_failure_500_then_serves(srv):
    """An exception raised while a query executes answers 500 with a
    JSON error, and the server keeps serving."""
    from pyspark.sql import functions as F

    from graphdb_wikidata_spark.engine.expressions import (
        register_custom_function,
        unregister_custom_function,
    )

    iri = "http://example.org/fn#fail"
    register_custom_function(iri, lambda s: F.concat(s, F.raise_error(F.lit("boom"))))
    try:
        q = urllib.parse.quote(f"SELECT ?y WHERE {{ ?s wdt:P2 wdt:Q3 . BIND(<{iri}>(STR(?s)) AS ?y) }}")
        status, headers, body = _get(f"{srv}/query?query={q}")
    finally:
        unregister_custom_function(iri)
    assert status == 500
    assert headers["Content-Type"] == "application/json"
    assert "boom" in json.loads(body)["error"]
    q = urllib.parse.quote("SELECT ?s WHERE { ?s wdt:P2 wdt:Q3 . }")
    status, _, body = _get(f"{srv}/query?query={q}")
    assert status == 200
    assert len(json.loads(body)["results"]["bindings"]) == 2


def test_invalid_string_escape_400(srv):
    q = urllib.parse.quote('SELECT ?x WHERE { BIND("a\\qb" AS ?x) }')
    status, _, body = _get(f"{srv}/query?query={q}")
    assert status == 400
    assert "escape" in json.loads(body)["error"]


@pytest.mark.parametrize(
    "query",
    [
        "SELECT ?X WHERE { wd:Q31 wdt:P31 ?X . BIND(1 AS ?x) }",
        "SELECT ?a ?A WHERE { BIND(1 AS ?a) BIND(2 AS ?A) }",
    ],
)
def test_variables_differing_only_in_case_400(srv, query):
    status, _, body = _get(f"{srv}/query?query={urllib.parse.quote(query)}")
    assert status == 400
    assert "differ only in case" in json.loads(body)["error"]


def test_concurrent_queries(srv):
    """ThreadingHTTPServer + one shared SparkSession: parallel requests
    must all answer correctly (Spark schedules concurrent jobs from
    multiple threads; no per-request engine state)."""
    import concurrent.futures

    q = urllib.parse.quote("SELECT ?s WHERE { ?s wdt:P2 wdt:Q3 . }")

    def one(_):
        status, _h, body = _get(f"{srv}/query?query={q}")
        return status, len(json.loads(body)["results"]["bindings"])

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(one, range(8)))
    assert results == [(200, 2)] * 8


# ---- round 4: protocol dataset params + result cap -----------------------

G1 = "http://example.org/g/one"


@pytest.fixture(scope="module")
def srv_ds(spark):
    quads = [
        ("Q1", "P2", "Q3", "d1"),
        ("Q1", "P2", "Q9", "g1", G1),
        ("Q4", "P2", "Q3", "d2"),
    ]
    engine = GraphEngine(spark, statements_from_quads(spark, quads))
    server = run_server(engine, port=0, max_result_rows=1)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}"
    server.shutdown()


def test_protocol_default_graph_uri_param(srv_ds):
    # Protocol §2.1.4: default-graph-uri selects the dataset; the
    # default-graph rows disappear, g/one's row answers
    q = urllib.parse.quote("SELECT ?o WHERE { wd:Q1 wdt:P2 ?o . }")
    g = urllib.parse.quote(G1)
    status, _, body = _get(f"{srv_ds}/query?query={q}&default-graph-uri={g}")
    assert status == 200
    vals = [b["o"]["value"] for b in json.loads(body)["results"]["bindings"]]
    assert len(vals) == 1 and vals[0].endswith("Q9")


def test_explain_honours_default_graph_uri(srv_ds):
    """?explain= shows the plan that would run, so the Protocol dataset
    parameters scope it the same way they scope the answer."""
    q = urllib.parse.quote("SELECT ?o WHERE { wd:Q1 wdt:P2 ?o . }")
    g = urllib.parse.quote(G1)
    code, _, plain = _get(f"{srv_ds}/query?query={q}&explain=1")
    code_ds, _, scoped = _get(f"{srv_ds}/query?query={q}&default-graph-uri={g}&explain=1")
    assert code == code_ds == 200
    assert G1 in scoped and G1 not in plain


def test_result_cap_413(srv_ds):
    q = urllib.parse.quote("SELECT ?s ?p ?o WHERE { ?s ?p ?o . }")
    status, _, body = _get(f"{srv_ds}/query?query={q}")
    assert status == 413
    assert "max_rows" in json.loads(body)["error"]


def test_concurrent_queries_share_plan_cache(srv):
    # 8 concurrent requests, same + different queries: exercises the
    # plan cache's lock under ThreadingHTTPServer (round-4 review fix)
    import concurrent.futures as cf

    qs = [
        "SELECT ?s WHERE { ?s wdt:P2 wdt:Q3 . }",
        "SELECT ?s ?o WHERE { ?s wdt:P2 ?o . }",
    ] * 4

    def hit(q):
        status, _, body = _get(f"{srv}/query?query={urllib.parse.quote(q)}")
        return status, json.loads(body)

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        results = list(ex.map(hit, qs))
    assert all(status == 200 for status, _ in results)
    assert all("results" in body for _, body in results)


def test_explain_param_returns_plan(srv):
    q = urllib.parse.quote("SELECT ?s WHERE { ?s wdt:P2 wd:Q3 }")
    code, hdrs, body = _get(f"{srv}/query?query={q}&explain=1")
    assert code == 200
    assert hdrs["Content-Type"].startswith("text/plain")
    assert "Physical Plan" in body or "AdaptiveSparkPlan" in body or "Scan" in body
    # no execution side effects: a normal run still works afterwards
    code2, _, body2 = _get(f"{srv}/query?query={q}")
    assert code2 == 200 and "results" in json.loads(body2)


def test_explain_bad_mode_400(srv):
    q = urllib.parse.quote("SELECT ?s WHERE { ?s wdt:P2 wd:Q3 }")
    code, _, body = _get(f"{srv}/query?query={q}&explain=nonsense")
    assert code == 400
    assert "explain" in json.loads(body)["error"]


def test_explain_parse_error_400(srv):
    q = urllib.parse.quote("SELECT ?s WHERE { broken")
    code, _, _ = _get(f"{srv}/query?query={q}&explain=1")
    assert code == 400


def test_explain_zero_executes_normally(srv):
    q = urllib.parse.quote("SELECT ?s WHERE { ?s wdt:P2 wd:Q3 }")
    code, hdrs, body = _get(f"{srv}/query?query={q}&explain=0")
    assert code == 200
    assert "results" in json.loads(body)  # executed, not explained
