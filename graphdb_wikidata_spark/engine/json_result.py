"""W3C SPARQL 1.1 JSON results serializer (reference
to_json_result.rs:33-103 + RDF term rendering data_types.rs:69-242).

Builds {"head": {"vars": [...]}, "results": {"bindings": [...]}} where
each cell is {"type": uri|literal, "value": ..., "xml:lang"?,
"datatype"?}. The per-cell struct is computed as a JVM expression and
collected once — no per-row Python. Every serialiser takes an optional
``memo`` dict that keeps the variables' result Columns across calls
(``_result_columns``); ``GraphEngine`` passes one per engine."""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .expressions import render

_XSD = "http://www.w3.org/2001/XMLSchema#"


class ResultTooLarge(RuntimeError):
    """Raised when a serialized result exceeds the caller's row cap
    (the HTTP server maps this to 413 Payload Too Large)."""


class NotRepresentable(ValueError):
    """Raised when a result value cannot be written in the requested
    format (the HTTP server maps this to 406 Not Acceptable)."""


# C0 controls other than TAB, LF and CR: XML 1.0 has no way to carry
# them, not even as character references
_XML_FORBIDDEN = re.compile("[\x00-\x08\x0b\x0c\x0e-\x1f]")


#: bound on a memo of result Columns: variable names come from clients
_MEMO_MAX = 1024


def _result_columns(
    df: DataFrame, fmt: str, build, memo: "dict | None"
) -> "tuple[list[str], list]":
    """The variables of ``df`` and their ``build``-ed result Columns,
    aliased to the variables. The Columns are built from ``F.col(v)``,
    which resolves by name, so one Column serves every DataFrame that
    has the variable: ``memo`` keeps them per (format, variable) across
    calls. Building one is 100-400 py4j calls, most of a point
    request's driver work."""
    vars_ = df.columns
    cols = []
    for v in vars_:
        col = None if memo is None else memo.get((fmt, v))
        if col is None:
            col = build(F.col("`" + v.replace("`", "``") + "`")).alias(v)
            if memo is not None and len(memo) < _MEMO_MAX:
                memo[(fmt, v)] = col
        cols.append(col)
    return vars_, cols


def _iter_rows(df: DataFrame, max_rows: "int | None"):
    """The result rows, fetched with ONE bounded collect: with
    ``max_rows`` set, ``limit(max_rows + 1)`` keeps Spark from
    computing more than cap+1 rows and a cap+1-th row raises
    ``ResultTooLarge``. Every serialiser builds its whole body in
    memory, so a per-partition iterator would hold no fewer rows; it
    would cost one Spark job per partition, where the collect is one
    job for a point lookup."""
    rows = (df if max_rows is None else df.limit(max_rows + 1)).collect()
    if max_rows is not None and len(rows) > max_rows:
        raise ResultTooLarge(f"result exceeds max_rows={max_rows}")
    return rows


def _cell(c) -> "F.Column":
    typ = (
        F.when(c["t"].isin("entity", "stmt"), "uri")
        .otherwise("literal")
    )
    datatype = (
        F.when(c["t"] == "int", F.lit(_XSD + "integer"))
        .when(c["t"] == "double", F.lit(_XSD + "double"))
        .when(c["t"] == "bool", F.lit(_XSD + "boolean"))
        .when(c["t"] == "time", F.lit(_XSD + "dateTime"))
        .otherwise(F.lit(None).cast("string"))
    )
    lang = F.when(c["t"] == "mono", c["lang"]).otherwise(F.lit(None).cast("string"))
    return F.when(
        c.isNull(),
        F.lit(None).cast(
            "struct<type:string,value:string,`xml:lang`:string,datatype:string>"
        ),
    ).otherwise(
        F.struct(
            typ.alias("type"),
            render(c).alias("value"),
            lang.alias("xml:lang"),
            datatype.alias("datatype"),
        )
    )


def to_sparql_csv(
    df: DataFrame, max_rows: "int | None" = None, memo: "dict | None" = None
) -> str:
    """W3C SPARQL 1.1 Query Results CSV format: header row of bare
    variable names, cells are the plain lexical/IRI form (no term
    quoting), RFC 4180 field quoting, CRLF line endings, unbound ->
    empty field. An extension over the reference, which serializes
    JSON only (to_json_result.rs)."""
    vars_, cols = _result_columns(df, "csv", render, memo)
    rows = _iter_rows(df.select(*cols), max_rows)

    def field(s: str | None) -> str:
        if s is None:
            return ""
        if any(ch in s for ch in (",", '"', "\n", "\r")):
            return '"' + s.replace('"', '""') + '"'
        return s

    lines = [",".join(vars_)]
    lines += [",".join(field(row[v]) for v in vars_) for row in rows]
    return "\r\n".join(lines) + "\r\n"


def _tsv_term(c) -> "F.Column":
    """One cell in SPARQL TSV term syntax: IRIs in <>, literals quoted
    with \\-escapes plus @lang / ^^<datatype>; numerics and booleans as
    bare literals (allowed by the TSV spec and round-trippable)."""
    escaped = c["s"]
    # backslash first, so the escapes added after it stay single
    for ch, esc in (("\\\\", "\\\\\\\\"), ('"', '\\\\"'), ("\n", "\\\\n"),
                    ("\r", "\\\\r"), ("\t", "\\\\t")):
        escaped = F.regexp_replace(escaped, F.lit(ch), F.lit(esc))
    quoted = F.concat(F.lit('"'), escaped, F.lit('"'))
    return (
        F.when(c.isNull(), F.lit(""))
        .when(c["t"].isin("entity", "stmt"), F.concat(F.lit("<"), render(c), F.lit(">")))
        .when(c["t"].isin("int", "double", "bool"), render(c))
        .when(c["t"] == "mono", F.concat(quoted, F.lit("@"), c["lang"]))
        .when(c["t"] == "str", quoted)
        .otherwise(
            F.concat(F.lit('"'), render(c), F.lit('"'))
        )
    )


def to_sparql_tsv(
    df: DataFrame, max_rows: "int | None" = None, memo: "dict | None" = None
) -> str:
    """W3C SPARQL 1.1 Query Results TSV format: header of ?-prefixed
    variables, cells in Turtle-style term syntax, unbound -> empty."""
    vars_, cols = _result_columns(df, "tsv", _tsv_term, memo)
    rows = _iter_rows(df.select(*cols), max_rows)
    lines = ["\t".join("?" + v for v in vars_)]
    lines += ["\t".join(row[v] if row[v] is not None else "" for v in vars_) for row in rows]
    return "\n".join(lines) + "\n"


def to_sparql_json(
    df: DataFrame, max_rows: "int | None" = None, memo: "dict | None" = None
) -> str:
    vars_, cols = _result_columns(df, "cell", _cell, memo)
    cells = df.select(*cols)
    bindings = []
    for row in _iter_rows(cells, max_rows):
        b = {}
        for v in vars_:
            cell = row[v]
            if cell is None:
                continue
            d = {"type": cell["type"], "value": cell["value"]}
            if cell["xml:lang"]:
                d["xml:lang"] = cell["xml:lang"]
            if cell["datatype"]:
                d["datatype"] = cell["datatype"]
            b[v] = d
        bindings.append(b)
    return json.dumps({"head": {"vars": vars_}, "results": {"bindings": bindings}})


def to_sparql_xml(
    df: DataFrame, max_rows: "int | None" = None, memo: "dict | None" = None
) -> str:
    """W3C SPARQL Query Results XML Format (an extension — the
    reference serializes JSON only, to_json_result.rs:70-103). Reuses
    the same per-cell typed rendering as the JSON sink, so a cell is
    identical across formats."""
    from xml.sax.saxutils import escape, quoteattr

    vars_, cols = _result_columns(df, "cell", _cell, memo)
    cells = df.select(*cols)
    out = ['<?xml version="1.0"?>']
    out.append('<sparql xmlns="http://www.w3.org/2005/sparql-results#">')
    out.append("<head>")
    for v in vars_:
        out.append(f"<variable name={quoteattr(v)}/>")
    out.append("</head><results>")
    for row in _iter_rows(cells, max_rows):
        out.append("<result>")
        for v in vars_:
            cell = row[v]
            if cell is None:
                continue
            for text in (cell["value"], cell["xml:lang"], cell["datatype"]):
                bad = _XML_FORBIDDEN.search(text or "")
                if bad:
                    raise NotRepresentable(
                        f"SPARQL XML results cannot represent control character "
                        f"U+{ord(bad.group()):04X} (in ?{v}); request JSON, CSV or TSV"
                    )
            out.append(f"<binding name={quoteattr(v)}>")
            # a raw CR would be read back as LF (XML end-of-line
            # normalisation); the character reference survives it
            val = escape(cell["value"], {"\r": "&#13;"})
            if cell["type"] == "uri":
                out.append(f"<uri>{val}</uri>")
            elif cell["type"] == "bnode":
                out.append(f"<bnode>{val}</bnode>")
            elif cell["xml:lang"]:
                out.append(f'<literal xml:lang={quoteattr(cell["xml:lang"])}>{val}</literal>')
            elif cell["datatype"]:
                out.append(f"<literal datatype={quoteattr(cell['datatype'])}>{val}</literal>")
            else:
                out.append(f"<literal>{val}</literal>")
            out.append("</binding>")
        out.append("</result>")
    out.append("</results></sparql>")
    return "".join(out)
