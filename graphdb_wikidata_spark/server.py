"""HTTP query endpoint + CLI REPL — the reference's EP1/EP2 surfaces
(src/server.rs:24-141, src/cli.rs:70-128) on stdlib http.server.

GET /            -> the static HTML frontend (reference frontend/index.html)
GET /app.js      -> its script (reference frontend/app.js)
GET /query?query=<SPARQL>  -> 200 W3C SPARQL-JSON | 400 parse error
                              | 406 a value the format cannot carry
                              | 413 over the row cap | 500 engine failure
CORS: * (the reference sets permissive CORS for its HTML frontend).

The server is a thin shell: all heavy lifting is the engine's
DataFrame plan; concurrency comes from ThreadingHTTPServer —
SparkSession is thread-safe for concurrent job submission (each
request becomes an independent Spark job, scheduled FAIR/FIFO by the
cluster manager — never a per-request process)."""

from __future__ import annotations

import json
import sys
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .engine.api import GraphEngine


def make_handler(engine: GraphEngine, max_result_rows: "int | None" = 1_000_000):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _reply(self, code: int, body: str, ctype: str = "application/sparql-results+json"):
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.send_header("Access-Control-Allow-Origin", "*")
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            u = urlparse(self.path)
            if u.path in ("/", "/index.html"):
                from .frontend import INDEX_HTML

                self._reply(200, INDEX_HTML, "text/html; charset=utf-8")
                return
            if u.path == "/app.js":
                from .frontend import APP_JS

                self._reply(200, APP_JS, "application/javascript; charset=utf-8")
                return
            if u.path != "/query":
                self._reply(404, json.dumps({"error": "use /query?query=..."}), "application/json")
                return
            params = parse_qs(u.query)
            self._answer(params, params.get("query", [None])[0])

        def do_POST(self):
            """W3C SPARQL 1.1 Protocol §2.1.2/.3 (an extension — the
            reference endpoint is GET-only, server.rs:62-66): either
            form-encoded ``query=`` or a direct
            ``application/sparql-query`` body."""
            u = urlparse(self.path)
            if u.path != "/query":
                self._reply(404, json.dumps({"error": "use /query"}), "application/json")
                return
            try:
                n = int(self.headers.get("Content-Length") or 0)
            except ValueError:
                n = -1
            if n < 0:
                self._reply(400, json.dumps({"error": "invalid Content-Length"}), "application/json")
                return
            body = self.rfile.read(n).decode("utf-8") if n else ""
            ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
            params = parse_qs(urlparse(self.path).query)
            if ctype == "application/sparql-query":
                q = body
            else:  # application/x-www-form-urlencoded (default)
                form = parse_qs(body)
                params = {**form, **params}
                q = params.get("query", [None])[0]
            self._answer(params, q)

        def _answer(self, params: dict, q: "str | None"):
            if not q:
                self._reply(400, json.dumps({"error": "missing query parameter"}), "application/json")
                return
            # SPARQL 1.1 Protocol §2.1.4 dataset parameters: when
            # present they override any FROM / FROM NAMED in the query
            # text (the reference endpoint has no dataset support at
            # all, server.rs:62-66)
            ds = {}
            if "default-graph-uri" in params or "named-graph-uri" in params:
                ds = {
                    "default_graphs": tuple(params.get("default-graph-uri", [])),
                    "named_graphs": tuple(params.get("named-graph-uri", [])),
                }
            # format=json|csv|tsv (or the matching Accept header) —
            # the W3C results formats; the reference serves JSON only
            fmt = params.get("format", [None])[0]
            if fmt is None:
                accept = self.headers.get("Accept", "")
                if "text/csv" in accept:
                    fmt = "csv"
                elif "text/tab-separated-values" in accept:
                    fmt = "tsv"
                elif "application/sparql-results+xml" in accept:
                    fmt = "xml"
                else:
                    fmt = "json"
            # explain=1|formatted|simple|extended|cost|codegen: return
            # the Catalyst physical plan (text/plain) WITHOUT executing
            # — the ops surface for "which index would this hit" that
            # the reference answers by reading interpreter debug logs
            explain = params.get("explain", [None])[0]
            if explain and explain.lower() not in ("0", "false", "no", "off"):
                mode = "formatted" if explain.lower() in ("1", "true", "yes", "on") else explain
                if mode not in ("formatted", "simple", "extended", "cost", "codegen"):
                    self._reply(
                        400,
                        json.dumps({"error": f"unknown explain mode {mode!r}; "
                                    "use formatted|simple|extended|cost|codegen"}),
                        "application/json",
                    )
                    return
                try:
                    plan = engine.explain(q, mode=mode, **ds)
                except (SyntaxError, NotImplementedError) as e:
                    self._reply(400, json.dumps({"error": str(e)}), "application/json")
                    return
                except Exception as e:  # engine-side failure: server error
                    self._reply(500, json.dumps({"error": f"explain failed: {e}"}), "application/json")
                    return
                self._reply(200, plan, "text/plain; charset=utf-8")
                return
            from .engine.json_result import NotRepresentable, ResultTooLarge

            try:
                cap = max_result_rows
                if fmt == "csv":
                    body, ctype = engine.sql_csv(q, cap, **ds), "text/csv; charset=utf-8"
                elif fmt == "tsv":
                    body, ctype = engine.sql_tsv(q, cap, **ds), "text/tab-separated-values; charset=utf-8"
                elif fmt == "xml":
                    body, ctype = engine.sql_xml(q, cap, **ds), "application/sparql-results+xml"
                else:
                    body, ctype = engine.sql_json(q, cap, **ds), "application/sparql-results+json"
            except (SyntaxError, NotImplementedError) as e:
                # parse/compile error -> 400, like the reference
                # (server.rs:110-127 returns the parser message)
                self._reply(400, json.dumps({"error": str(e)}), "application/json")
                return
            except ResultTooLarge as e:
                # result bigger than the server's configured cap: 413
                # rather than an unbounded driver-side materialization
                self._reply(413, json.dumps({"error": str(e)}), "application/json")
                return
            except NotRepresentable as e:
                # a value the requested format cannot carry (a control
                # character in XML): the other formats still can
                self._reply(406, json.dumps({"error": str(e)}), "application/json")
                return
            except Exception as e:  # engine-side failure: server error
                self._reply(500, json.dumps({"error": f"query failed: {e}"}), "application/json")
                return
            self._reply(200, body, ctype)

    return Handler


def run_server(
    engine: GraphEngine,
    host: str = "127.0.0.1",
    port: int = 8000,
    max_result_rows: "int | None" = 1_000_000,
) -> ThreadingHTTPServer:
    """Start serving (returns the server; call .serve_forever() or use
    it from a thread in tests via .shutdown()). ``max_result_rows``
    caps any single serialized result (413 beyond it) so a
    ``SELECT * {?s ?p ?o}`` cannot OOM the driver."""
    return ThreadingHTTPServer((host, port), make_handler(engine, max_result_rows))


def run_cli(engine: GraphEngine, inp=None, out=None) -> None:
    """REPL: one SPARQL query per blank-line-terminated block; prints
    the algebra plan then the result table — the reference prints its
    Vector-Operator-Tree before the relation (cli.rs:98-121) and exits
    on the literal ``exit`` (cli.rs:97)."""
    inp = inp or sys.stdin
    out = out or sys.stdout

    def run_block(query: str) -> None:
        try:
            print(f"plan: {engine.plan(query)}", file=out)
            engine.sql(query).show(50, truncate=False)
        except Exception as e:  # noqa: BLE001 - REPL surfaces all errors
            print(f"error: {e}", file=out)

    buf: list[str] = []
    print("graphdb> enter SPARQL, blank line to run, 'exit' or Ctrl-D to quit", file=out)
    for line in inp:
        if line.strip() == "exit" and not buf:
            return
        if line.strip():
            buf.append(line)
            continue
        if not buf:
            continue
        run_block("".join(buf))
        buf = []
    if buf:
        run_block("".join(buf))
