"""SPARQL 1.1 SELECT/ASK parser -> algebra.

Replaces the reference's use of the spargebra crate (interpreter.rs:
97-131) with a self-contained recursive-descent parser. Covers the
reference's declared surface (SURVEY §2.8): BGPs, property paths,
FILTER (incl. EXISTS/NOT EXISTS), OPTIONAL, UNION, MINUS, BIND,
VALUES, subselects, GROUP BY + aggregates, HAVING, ORDER BY, LIMIT/
OFFSET, DISTINCT/REDUCED — with the standard 21-prefix header
prepended (interpreter.rs:58-94).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from .algebra import (
    AggSpec,
    Bgp,
    Distinct,
    EArith,
    EBool,
    ECmp,
    EExists,
    EFunc,
    EIn,
    ELit,
    ENeg,
    ENot,
    EVar,
    Expr,
    Extend,
    Filter,
    Graph,
    Group,
    Join,
    LabelService,
    LateralJoin,
    LeftJoin,
    Minus,
    Op,
    OrderBy,
    PathExpr,
    PathPattern,
    Project,
    Reduced,
    Service,
    Slice,
    TriplePattern,
    Union,
    Values,
    Var,
)
from .terms import PREFIXES, Term, expand_pname, parse_iri, parse_literal

# --------------------------------------------------------------------------
# Lexer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+|\#[^\n]*)
  | (?P<IRIREF><[^<>"{}|^`\\\s]*>)
  | (?P<STRING>"{3}(?:(?:"|"")?(?:[^"\\]|\\.))*"{3}
              |'{3}(?:(?:'|'')?(?:[^'\\]|\\.))*'{3}
              |"(?:[^"\\\n]|\\.)*"|'(?:[^'\\\n]|\\.)*')
  | (?P<VAR>[?$][A-Za-z_][A-Za-z0-9_]*)
  | (?P<NUMBER>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<PNAME>[A-Za-z_][A-Za-z0-9_\-]*:[A-Za-z0-9_][A-Za-z0-9_.\-]*|[A-Za-z_][A-Za-z0-9_\-]*:)
  | (?P<KEYWORD>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP>&&|\|\||!=|<=|>=|\^\^|[{}()\[\].;,*/|^?+\-=<>!@])
    """,
    re.VERBOSE,
)


@dataclass
class Token:
    kind: str
    value: str
    pos: int


def tokenize(text: str) -> list[Token]:
    out: list[Token] = []
    i = 0
    while i < len(text):
        m = _TOKEN_RE.match(text, i)
        if not m:
            raise SyntaxError(f"cannot tokenize at offset {i}: {text[i:i+30]!r}")
        kind = m.lastgroup
        if kind != "WS":
            out.append(Token(kind, m.group(), i))
        i = m.end()
    out.append(Token("EOF", "", len(text)))
    return out


#: SPARQL 1.1 ECHAR (grammar rule [160]); UCHAR is \uXXXX / \UXXXXXXXX
_ECHAR = {
    "t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f",
    '"': '"', "'": "'", "\\": "\\",
}
_ESCAPE_RE = re.compile(r"\\(?:u([0-9A-Fa-f]{4})|U([0-9A-Fa-f]{8})|(.))", re.DOTALL)


def _unescape(m: re.Match) -> str:
    hexd = m.group(1) or m.group(2)
    if hexd is not None:
        cp = int(hexd, 16)
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            raise SyntaxError(f"escape {m.group()!r} is not a Unicode character")
        return chr(cp)
    if m.group(3) not in _ECHAR:
        raise SyntaxError(f"invalid escape {m.group()!r} in string literal")
    return _ECHAR[m.group(3)]


def _unquote(s: str) -> str:
    # long (triple-quoted) form may contain raw newlines and quotes
    n = 3 if s[:3] in ('"""', "'''") else 1
    return _ESCAPE_RE.sub(_unescape, s[n:-n])


AGG_NAMES = {"COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT", "SAMPLE"}

BUILTIN_NAMES = {
    "STR", "LANG", "LANGMATCHES", "DATATYPE", "BOUND", "IRI", "URI", "BNODE",
    "RAND", "ABS", "CEIL", "FLOOR", "ROUND", "CONCAT", "STRLEN", "UCASE",
    "LCASE", "ENCODE_FOR_URI", "CONTAINS", "STRSTARTS", "STRENDS", "STRBEFORE",
    "STRAFTER", "YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS",
    "TIMEZONE", "TZ", "NOW", "UUID", "STRUUID", "MD5", "SHA1", "SHA256",
    "SHA384", "SHA512", "COALESCE", "IF", "STRLANG", "STRDT", "SAMETERM",
    "ISIRI", "ISURI", "ISBLANK", "ISLITERAL", "ISNUMERIC", "REGEX", "REPLACE",
    "SUBSTR",
}


@dataclass
class SelectSpec:
    star: bool = False
    items: list = field(default_factory=list)  # list of (varname, Expr|None)
    distinct: bool = False
    reduced: bool = False


class Parser:
    def __init__(self, text: str):
        self.text = text  # kept for raw-span capture (SERVICE bodies)
        self.tokens = tokenize(text)
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self._agg_counter = 0
        self._aggs: list[AggSpec] = []
        self._label_langs: list[str] = []
        self._bnode_counter = 0

    # ---- token helpers
    def peek(self, ahead: int = 0) -> Token:
        return self.tokens[min(self.i + ahead, len(self.tokens) - 1)]

    def next(self) -> Token:
        t = self.tokens[self.i]
        self.i += 1
        return t

    def accept(self, value: str | None = None, kind: str | None = None) -> Token | None:
        t = self.peek()
        if kind and t.kind != kind:
            return None
        if value is not None:
            if t.kind == "KEYWORD":
                if t.value.upper() != value.upper():
                    return None
            elif t.value != value:
                return None
        return self.next()

    def expect(self, value: str | None = None, kind: str | None = None) -> Token:
        t = self.accept(value, kind)
        if t is None:
            cur = self.peek()
            raise SyntaxError(f"expected {value or kind}, got {cur.value!r} at {cur.pos}")
        return t

    def at_keyword(self, *words: str) -> bool:
        t = self.peek()
        return t.kind == "KEYWORD" and t.value.upper() in words

    # ---- entry
    def parse_query(self) -> Op:
        while self.at_keyword("PREFIX", "BASE"):
            kw = self.next().value.upper()
            if kw == "PREFIX":
                pname = self.expect(kind="PNAME").value
                iri = self.expect(kind="IRIREF").value
                self.prefixes[pname[:-1]] = iri[1:-1]
            else:
                self.expect(kind="IRIREF")
        if self.at_keyword("ASK"):
            self.next()
            ds = self.parse_dataset_clauses()
            self.accept("WHERE")
            pattern = self.parse_group_graph_pattern()
            return self._wrap_dataset(Slice(pattern, 0, 1), ds)
        if self.at_keyword("CONSTRUCT"):
            return self.parse_construct_query()
        if self.at_keyword("DESCRIBE"):
            return self.parse_describe_query()
        return self.parse_select_query()

    def parse_construct_query(self) -> Op:
        from .algebra import Construct

        self.expect("CONSTRUCT")
        template: tuple[TriplePattern, ...] = ()
        if self.peek().value == "{":  # explicit template
            self.expect("{")
            tmpl_op = self.parse_triples_block() if self.peek().value != "}" else Bgp(())
            self.expect("}")
            if not isinstance(tmpl_op, Bgp):
                raise SyntaxError("property paths are not allowed in CONSTRUCT templates")
            template = tmpl_op.patterns
            ds = self.parse_dataset_clauses()
            self.accept("WHERE")
            pattern = self.parse_group_graph_pattern()
        else:  # CONSTRUCT WHERE { pattern }: template = pattern
            ds = self.parse_dataset_clauses()
            self.expect("WHERE")
            pattern = self.parse_group_graph_pattern()
            if not isinstance(pattern, Bgp):
                raise SyntaxError("CONSTRUCT WHERE shorthand requires a plain BGP")
            template = pattern.patterns
        plan: Op = Construct(pattern, template)
        # solution modifiers apply to the underlying solutions; support
        # the common LIMIT/OFFSET form
        offset, limit = 0, None
        for _ in range(2):
            if self.at_keyword("LIMIT"):
                self.next()
                limit = int(self.expect(kind="NUMBER").value)
            elif self.at_keyword("OFFSET"):
                self.next()
                offset = int(self.expect(kind="NUMBER").value)
        if offset or limit is not None:
            plan = Slice(plan, offset, limit)
        return self._wrap_dataset(plan, ds)

    def parse_describe_query(self) -> Op:
        from .algebra import Describe

        self.expect("DESCRIBE")
        nodes: list[Term] = []
        variables: list[str] = []
        if self.accept("*"):
            star = True
        else:
            star = False
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    variables.append(self.next().value[1:])
                elif t.kind in ("PNAME", "IRIREF"):
                    nodes.append(self.parse_iri_term())
                else:
                    break
        ds = self.parse_dataset_clauses()
        pattern: Op | None = None
        if self.accept("WHERE") or self.peek().value == "{":
            pattern = self.parse_group_graph_pattern()
            if star:
                from .algebra import pattern_vars

                variables = sorted(pattern_vars(pattern))
        if not nodes and not variables:
            raise SyntaxError("DESCRIBE needs at least one IRI or variable")
        return self._wrap_dataset(Describe(tuple(nodes), tuple(variables), pattern), ds)

    # ---- SELECT
    def parse_select_query(self) -> Op:
        # a label SERVICE rewrites only the SELECT whose body holds it:
        # a subquery starts with none and gives back the enclosing one's
        outer_langs, self._label_langs = self._label_langs, []
        spec = self.parse_select_clause()
        ds = self.parse_dataset_clauses()
        self.accept("WHERE")
        pattern = self.parse_group_graph_pattern()
        op = self._wrap_dataset(self.finish_select(spec, pattern), ds)
        self._label_langs = outer_langs
        return op

    def parse_select_clause(self) -> SelectSpec:
        self.expect("SELECT")
        spec = SelectSpec()
        if self.accept("DISTINCT"):
            spec.distinct = True
        elif self.accept("REDUCED"):
            spec.reduced = True
        if self.accept("*"):
            spec.star = True
            return spec
        while True:
            t = self.peek()
            if t.kind == "VAR":
                self.next()
                spec.items.append((t.value[1:], None))
            elif t.value == "(":
                self.next()
                expr = self.parse_expression()
                self.expect("AS")
                var = self.expect(kind="VAR").value[1:]
                self.expect(")")
                spec.items.append((var, expr))
            else:
                break
        if not spec.items:
            raise SyntaxError("empty SELECT clause")
        return spec

    def finish_select(self, spec: SelectSpec, pattern: Op) -> Op:
        # solution modifiers
        group_vars: list[str] = []
        group_exprs: list[tuple[str, Expr]] = []
        having: Expr | None = None
        order: list[tuple[Expr, bool]] = []
        offset = 0
        limit: int | None = None
        has_group = False

        if self.at_keyword("GROUP"):
            self.next()
            self.expect("BY")
            has_group = True
            while True:
                t = self.peek()
                if t.kind == "VAR":
                    self.next()
                    group_vars.append(t.value[1:])
                elif t.value == "(":
                    self.next()
                    e = self.parse_expression()
                    self.expect("AS")
                    v = self.expect(kind="VAR").value[1:]
                    self.expect(")")
                    group_exprs.append((v, e))
                    group_vars.append(v)
                else:
                    break
        if self.at_keyword("HAVING"):
            self.next()
            having = self.parse_expression()
        if self.at_keyword("ORDER"):
            self.next()
            self.expect("BY")
            while True:
                if self.at_keyword("ASC", "DESC"):
                    asc = self.next().value.upper() == "ASC"
                    self.expect("(")
                    e = self.parse_expression()
                    self.expect(")")
                    order.append((e, asc))
                elif self.peek().kind == "VAR" or self.peek().value == "(":
                    if self.peek().value == "(":
                        self.next()
                        e = self.parse_expression()
                        self.expect(")")
                    else:
                        e = EVar(self.next().value[1:])
                    order.append((e, True))
                else:
                    break
        # LIMIT/OFFSET in either order
        for _ in range(2):
            if self.at_keyword("LIMIT"):
                self.next()
                limit = int(self.expect(kind="NUMBER").value)
            elif self.at_keyword("OFFSET"):
                self.next()
                offset = int(self.expect(kind="NUMBER").value)
        if self.at_keyword("VALUES"):
            self.next()
            pattern = Join(pattern, self.parse_inline_data())

        # label-service rewrite (interpreter.rs:784-917): projected
        # ?xLabel / ?xAltLabel / ?xDescription vars whose base ?x is
        # bound in the pattern become prioritized term lookups
        if self._label_langs:
            from .algebra import pattern_vars

            pvars = pattern_vars(pattern)
            targets = []
            for var, expr in spec.items:
                if expr is not None:
                    continue
                for suffix, kind in (
                    ("AltLabel", "alias"),
                    ("Label", "label"),
                    ("Description", "description"),
                ):
                    if var.endswith(suffix) and var[: -len(suffix)] in pvars:
                        targets.append((var, var[: -len(suffix)], kind))
                        break
            if targets:
                pattern = LabelService(pattern, tuple(self._label_langs), tuple(targets))

        # aggregate extraction from select items / having
        self._aggs = []
        proj_items: list[tuple[str, Expr | None]] = []
        for var, expr in spec.items:
            if expr is not None:
                expr = self._extract_aggregates(expr)
            proj_items.append((var, expr))
        if having is not None:
            having = self._extract_aggregates(having)
        needs_group = has_group or bool(self._aggs)

        plan: Op = pattern
        for v, e in group_exprs:
            plan = Extend(plan, v, e)
        if needs_group:
            plan = Group(plan, tuple(group_vars), tuple(self._aggs))
        if having is not None:
            plan = Filter(having, plan)

        out_vars: list[str] = []
        for var, expr in proj_items:
            out_vars.append(var)
            if expr is None:
                continue
            if isinstance(expr, EVar) and expr.name == var:
                continue  # direct aggregate alias
            plan = Extend(plan, var, expr)
        # ORDER BY sits above DISTINCT/REDUCED when both are present:
        # semantically identical (dedup commutes with sorting, and the
        # spec restricts ORDER BY under DISTINCT to projected vars), and
        # physically required — Spark's dedup is a shuffle that destroys
        # the sort order an OFFSET/LIMIT slice below it relies on.
        if order and not (spec.distinct or spec.reduced):
            plan = OrderBy(plan, tuple(order))
        if not spec.star:
            plan = Project(plan, tuple(out_vars))
        if spec.distinct:
            plan = Distinct(plan)
        elif spec.reduced:
            plan = Reduced(plan)
        if order and (spec.distinct or spec.reduced):
            plan = OrderBy(plan, tuple(order))
        if offset or limit is not None:
            plan = Slice(plan, offset, limit)
        return plan

    def _extract_aggregates(self, e: Expr) -> Expr:
        """Replace aggregate calls with fresh variables, recording
        AggSpecs (the algebra keeps aggregates only inside Group)."""
        if isinstance(e, EFunc) and e.name.upper() in AGG_NAMES:
            raise AssertionError("aggregates are parsed as EAggMarker")
        if isinstance(e, _EAgg):
            var = f"__agg{self._agg_counter}"
            self._agg_counter += 1
            self._aggs.append(
                AggSpec(var, e.func, e.expr, distinct=e.distinct, separator=e.separator)
            )
            return EVar(var)
        if isinstance(e, EBool):
            return EBool(e.op, self._extract_aggregates(e.left), self._extract_aggregates(e.right))
        if isinstance(e, ENot):
            return ENot(self._extract_aggregates(e.arg))
        if isinstance(e, ECmp):
            return ECmp(e.op, self._extract_aggregates(e.left), self._extract_aggregates(e.right))
        if isinstance(e, EArith):
            return EArith(e.op, self._extract_aggregates(e.left), self._extract_aggregates(e.right))
        if isinstance(e, ENeg):
            return ENeg(self._extract_aggregates(e.arg))
        if isinstance(e, EFunc):
            from .expressions import CUSTOM_AGGREGATES

            if e.name in CUSTOM_AGGREGATES:
                # registered custom aggregate called by IRI (reference
                # hook calc_engine.rs:877-879, todo! there)
                var = f"__agg{self._agg_counter}"
                self._agg_counter += 1
                arg = e.args[0] if e.args else None
                self._aggs.append(AggSpec(var, e.name, arg))
                return EVar(var)
            return EFunc(e.name, tuple(self._extract_aggregates(a) for a in e.args))
        if isinstance(e, EIn):
            return EIn(
                self._extract_aggregates(e.arg),
                tuple(self._extract_aggregates(o) for o in e.options),
                e.negated,
            )
        return e

    # ---- group graph pattern
    def parse_group_graph_pattern(self) -> Op:
        self.expect("{")
        if self.at_keyword("SELECT"):
            sub = self.parse_select_query()
            self.expect("}")
            return sub
        current: Op | None = None
        filters: list[Expr] = []

        def add(op: Op):
            nonlocal current
            current = op if current is None else Join(current, op)

        while not self.accept("}"):
            if self.at_keyword("FILTER"):
                self.next()
                filters.append(self.parse_constraint())
            elif self.at_keyword("OPTIONAL"):
                self.next()
                inner = self.parse_group_graph_pattern()
                expr = None
                if isinstance(inner, Filter):  # OPTIONAL { P FILTER(e) }
                    expr, inner = inner.expr, inner.input
                current = LeftJoin(current or Bgp(()), inner, expr)
            elif self.at_keyword("MINUS"):
                self.next()
                inner = self.parse_group_graph_pattern()
                current = Minus(current or Bgp(()), inner)
            elif self.at_keyword("LATERAL"):
                # SPARQL 1.2 LATERAL; the reference IR carries it and
                # executes it as an inner join (calc_engine.rs:194-201)
                self.next()
                inner = self.parse_group_graph_pattern()
                current = LateralJoin(current or Bgp(()), inner)
            elif self.at_keyword("BIND"):
                self.next()
                self.expect("(")
                e = self.parse_expression()
                self.expect("AS")
                v = self.expect(kind="VAR").value[1:]
                self.expect(")")
                current = Extend(current or Bgp(()), v, e)
            elif self.at_keyword("VALUES"):
                self.next()
                add(self.parse_inline_data())
            elif self.at_keyword("SERVICE"):
                self.next()
                svc = self.parse_service_clause()
                if svc is not None:
                    add(svc)
            elif self.at_keyword("GRAPH"):
                # named-graph scope (the reference's Graph operator is
                # declared-but-todo!, calc_engine.rs:244-246; here it
                # executes for real against the quad column graph_id)
                self.next()
                t = self.next()  # graph name: var or IRI
                if t.kind == "VAR":
                    gname: Term | Var = Var(t.value[1:])
                elif t.kind == "IRIREF":
                    gname = parse_iri(t.value[1:-1])
                elif t.kind == "PNAME":
                    prefix, _, local = t.value.partition(":")
                    gname = parse_iri(expand_pname(prefix, local, self.prefixes))
                else:
                    raise SyntaxError(f"GRAPH expects a var or IRI, got {t.value!r}")
                add(Graph(gname, self.parse_group_graph_pattern()))
            elif self.peek().value == "{":
                sub = self.parse_group_graph_pattern()
                while self.at_keyword("UNION"):
                    self.next()
                    sub = Union(sub, self.parse_group_graph_pattern())
                add(sub)
            else:
                add(self.parse_triples_block())
            self.accept(".")
        plan = current or Bgp(())
        for fexpr in filters:
            plan = Filter(fexpr, plan)
        return plan

    def parse_service_clause(self) -> "Op | None":
        """SERVICE [SILENT] <iri> { ... }.

        ``wikibase:label`` keeps its special handling (the body is
        scanned for ``bd:serviceParam wikibase:language "en,de"`` and
        the actual rewrite happens in finish_select against the
        projection; returns None). Any OTHER IRI parses its body as a
        normal group graph pattern and yields a ``Service`` node —
        executed against a dataset registered via
        ``GraphEngine.register_service`` (the reference panics on
        every non-label SERVICE IRI, interpreter.rs:655-659)."""
        silent = bool(self.accept("SILENT"))
        t = self.next()
        if t.kind == "PNAME":
            prefix, _, local = t.value.partition(":")
            iri = expand_pname(prefix, local, self.prefixes)
        elif t.kind == "IRIREF":
            iri = t.value[1:-1]
        else:
            raise SyntaxError(f"SERVICE expects an IRI, got {t.value!r}")
        if iri != PREFIXES["wikibase"] + "label":
            # Capture the raw body span so http(s) federation can POST
            # the inner pattern verbatim (SELECT * keeps every in-scope
            # var; the remote endpoint computes its own projection).
            start = self.peek().pos  # the '{' opening the body
            body = self.parse_group_graph_pattern()
            end_tok = self.tokens[self.i - 1]  # the matching '}'
            remote_query = None
            if iri.startswith(("http://", "https://")):
                raw = self.text[start : end_tok.pos + len(end_tok.value)]
                header = "".join(
                    f"PREFIX {p}: <{ns}>\n"
                    for p, ns in {**PREFIXES, **self.prefixes}.items()
                )
                remote_query = f"{header}SELECT * WHERE {raw}"
            return Service(iri, body, silent, remote_query)
        self.expect("{")
        depth, langs = 1, None
        while depth:
            tok = self.next()
            if tok.kind == "EOF":
                raise SyntaxError("unterminated SERVICE block")
            if tok.value == "{":
                depth += 1
            elif tok.value == "}":
                depth -= 1
            elif tok.kind == "PNAME" and tok.value.endswith(":language"):
                langs = _unquote(self.expect(kind="STRING").value)
        self._label_langs = [l.strip() for l in (langs or "en").split(",") if l.strip()]

    def parse_constraint(self) -> Expr:
        if self.at_keyword("EXISTS"):
            self.next()
            return EExists(self.parse_group_graph_pattern())
        if self.at_keyword("NOT"):
            self.next()
            self.expect("EXISTS")
            return EExists(self.parse_group_graph_pattern(), negated=True)
        self.expect("(")
        e = self.parse_expression()
        self.expect(")")
        return e

    # ---- triples
    def parse_triples_block(self) -> Op:
        patterns: list[TriplePattern] = []
        paths: list[PathPattern] = []
        while True:
            if self.peek().value == "[":
                # bnode property list as subject; the trailing property
                # list may be empty (`[ wdt:P1 ?o ] .`)
                subj = self._parse_bnode(patterns, paths)
                if self._at_verb():
                    self._parse_property_list(subj, patterns, paths)
            elif self.peek().value == "(":
                subj = self._parse_collection(patterns, paths)
                if self._at_verb():
                    self._parse_property_list(subj, patterns, paths)
            else:
                subj = self.parse_var_or_term()
                self._parse_property_list(subj, patterns, paths)
            if not self.accept("."):
                break
            t = self.peek()
            if t.value in ("}",) or t.kind == "EOF" or (
                t.kind == "KEYWORD"
                and t.value.upper()
                in ("FILTER", "OPTIONAL", "MINUS", "BIND", "VALUES", "UNION", "GROUP",
                    "HAVING", "ORDER", "LIMIT", "OFFSET", "SELECT", "SERVICE",
                    "LATERAL", "GRAPH")
            ) or t.value == "{":
                break
        plan: Op = Bgp(tuple(patterns))
        for pp in paths:
            plan = Join(plan, pp) if patterns or len(paths) > 1 else pp
        if not patterns and len(paths) == 1:
            return paths[0]
        return plan

    def _parse_property_list(self, subj, patterns, paths):
        while True:
            if self.peek().kind == "VAR":
                pvar = Var(self.next().value[1:])
                path = PathExpr("link", terms=(pvar,))
            else:
                path = self.parse_path()
            while True:
                if self.peek().value == "[":
                    obj = self._parse_bnode(patterns, paths)
                elif self.peek().value == "(":
                    obj = self._parse_collection(patterns, paths)
                else:
                    obj = self.parse_var_or_term()
                if path.kind == "link" and len(path.terms) == 1:
                    patterns.append(TriplePattern(subj, path.terms[0], obj))
                else:
                    paths.append(PathPattern(subj, path, obj))
                if not self.accept(","):
                    break
            if not self.accept(";"):
                break
            if self.peek().value in (".", "}") :
                break

    def _at_verb(self) -> bool:
        """Next token can start a property-list verb (predicate or
        path): a variable, an IRI, `a`, or a path-prefix operator."""
        t = self.peek()
        return (
            t.kind in ("VAR", "PNAME", "IRIREF")
            or (t.kind == "KEYWORD" and t.value == "a")
            or t.value in ("(", "^", "!")
        )

    def _parse_collection(self, patterns, paths):
        """`( e1 e2 ... )` RDF collection (SPARQL 1.1 §4.2): sugar for
        an rdf:first/rdf:rest chain of fresh blank nodes; `()` is
        rdf:nil. The reference accepts these via spargebra's grammar;
        against a store without collection edges the expansion simply
        matches nothing, which is the correct answer."""
        from .terms import parse_iri

        rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        first, rest, nil = (parse_iri(rdf + n) for n in ("first", "rest", "nil"))
        self.expect("(")
        items = []
        while self.peek().value != ")":
            if self.peek().value == "[":
                items.append(self._parse_bnode(patterns, paths))
            elif self.peek().value == "(":
                items.append(self._parse_collection(patterns, paths))
            else:
                items.append(self.parse_var_or_term())
        self.expect(")")
        if not items:
            return nil
        nodes = []
        for _ in items:
            nodes.append(Var(f"__bn{self._bnode_counter}"))
            self._bnode_counter += 1
        for i, (node, item) in enumerate(zip(nodes, items)):
            patterns.append(TriplePattern(node, first, item))
            patterns.append(
                TriplePattern(node, rest, nodes[i + 1] if i + 1 < len(nodes) else nil)
            )
        return nodes[0]

    def _parse_bnode(self, patterns, paths) -> Var:
        """`[ pred obj ; ... ]` / `[]`: a blank node is a fresh
        non-distinguished variable (SPARQL 1.1 §4.1.4 — the reference
        accepts these via spargebra's grammar); its property list is
        emitted as extra triples on that variable. The `__bn` prefix is
        dropped from SELECT * results (GraphEngine.sql)."""
        self.expect("[")
        v = Var(f"__bn{self._bnode_counter}")
        self._bnode_counter += 1
        if self.peek().value != "]":
            self._parse_property_list(v, patterns, paths)
        self.expect("]")
        return v

    # ---- property paths (SPARQL 1.1 §9; reference IR calc_data_types.rs:17-26)
    def parse_path(self):
        return self._path_alternative()

    def _path_alternative(self) -> PathExpr:
        parts = [self._path_sequence()]
        while self.accept("|"):
            parts.append(self._path_sequence())
        if len(parts) == 1:
            return parts[0]
        return PathExpr("alternative", parts=tuple(parts))

    def _path_sequence(self) -> PathExpr:
        parts = [self._path_elt()]
        while self.accept("/"):
            parts.append(self._path_elt())
        if len(parts) == 1:
            return parts[0]
        return PathExpr("sequence", parts=tuple(parts))

    def _path_elt(self) -> PathExpr:
        inverse = bool(self.accept("^"))
        p = self._path_primary()
        t = self.peek()
        if t.value == "*":
            self.next()
            p = PathExpr("zero_or_more", parts=(p,))
        elif t.value == "+":
            self.next()
            p = PathExpr("one_or_more", parts=(p,))
        elif t.value == "?" and t.kind == "OP":
            self.next()
            p = PathExpr("zero_or_one", parts=(p,))
        if inverse:
            p = PathExpr("reverse", parts=(p,))
        return p

    def _path_primary(self) -> PathExpr:
        t = self.peek()
        if t.value == "(":
            self.next()
            p = self.parse_path()
            self.expect(")")
            return p
        if t.value == "!":
            # negated property set (SPARQL 1.1 §9.1 / grammar
            # PathNegatedPropertySet): members are iri, `a`, or ^iri.
            # Per the §18.2.2.3 translation, forward members become
            # NPS(F), inverse members inv(NPS(I)), mixed sets the
            # alternative of both.
            self.next()
            if self.peek().value == "(":
                self.next()
                members = [self._nps_member()]
                while self.accept("|"):
                    members.append(self._nps_member())
                self.expect(")")
            else:
                members = [self._nps_member()]
            fwd = tuple(term for term, inv in members if not inv)
            rev = tuple(term for term, inv in members if inv)
            parts: list[PathExpr] = []
            if fwd:
                parts.append(PathExpr("negated", terms=fwd))
            if rev:
                parts.append(
                    PathExpr("reverse", parts=(PathExpr("negated", terms=rev),))
                )
            if len(parts) == 1:
                return parts[0]
            return PathExpr("alternative", parts=tuple(parts))
        if t.kind == "KEYWORD" and t.value == "a":
            self.next()
            return PathExpr("link", terms=(parse_iri(PREFIXES["rdf"] + "type"),))
        term = self.parse_iri_term()
        return PathExpr("link", terms=(term,))

    def _nps_member(self):
        """One negated-property-set member: iri | `a` | ^iri | ^a.
        Returns (term, inverted)."""
        inverted = bool(self.accept("^"))
        t = self.peek()
        if t.kind == "KEYWORD" and t.value == "a":
            self.next()
            return parse_iri(PREFIXES["rdf"] + "type"), inverted
        return self.parse_iri_term(), inverted

    def parse_dataset_clauses(self):
        """FROM / FROM NAMED clauses (SPARQL 1.1 grammar DatasetClause):
        returns (default_graphs, named_graphs) IRI tuples, or None when
        no clause is present (= query runs against the store's own
        dataset)."""
        defaults: list[str] = []
        named: list[str] = []
        seen = False
        while self.at_keyword("FROM"):
            self.next()
            seen = True
            if self.at_keyword("NAMED"):
                self.next()
                named.append(self._dataset_iri())
            else:
                defaults.append(self._dataset_iri())
        return (tuple(defaults), tuple(named)) if seen else None

    def _dataset_iri(self) -> str:
        t = self.parse_iri_term()
        if t.t == "str":
            return t.s
        if t.t == "entity":
            # entity-shaped graph name -> its canonical wd: IRI (the
            # normalization _graph_clause applies to GRAPH wd:Qn)
            from .terms import PREFIXES

            return f"{PREFIXES['wd']}{t.k}{t.e}"
        raise SyntaxError("FROM expects an IRI")

    @staticmethod
    def _wrap_dataset(plan: Op, ds) -> Op:
        from .algebra import Dataset

        return plan if ds is None else Dataset(plan, ds[0], ds[1])

    def parse_iri_term(self) -> Term:
        t = self.peek()
        if t.kind == "IRIREF":
            self.next()
            return parse_iri(t.value[1:-1])
        if t.kind == "PNAME":
            self.next()
            prefix, local = t.value.split(":", 1)
            return parse_iri(expand_pname(prefix, local, self.prefixes))
        raise SyntaxError(f"expected IRI at {t.pos}, got {t.value!r}")

    def parse_var_or_term(self):
        t = self.peek()
        if t.kind == "VAR":
            self.next()
            return Var(t.value[1:])
        if t.kind == "STRING":
            return self._parse_literal_token()
        if t.kind == "NUMBER":
            self.next()
            if re.fullmatch(r"[+-]?\d+", t.value):
                return Term(t="int", i=int(t.value))
            return Term(t="double", d=float(t.value))
        if t.kind == "KEYWORD" and t.value.lower() in ("true", "false"):
            self.next()
            return Term(t="bool", b=t.value.lower() == "true")
        return self.parse_iri_term()

    def _parse_literal_token(self) -> Term:
        t = self.next()
        lexical = _unquote(t.value)
        if self.peek().value == "@":
            self.next()
            lang = self.expect(kind="KEYWORD").value
            return parse_literal(lexical, lang, None)
        if self.accept("^^"):
            dt = self.parse_iri_term()
            dt_iri = None
            if dt.t == "str":
                dt_iri = dt.s
            elif dt.t == "entity":
                dt_iri = f"entity/{dt.k}{dt.e}"
            return parse_literal(lexical, None, dt_iri or "")
        return parse_literal(lexical, None, None)

    # ---- VALUES
    def parse_inline_data(self) -> Values:
        t = self.peek()
        variables: list[str] = []
        if t.kind == "VAR":
            variables.append(self.next().value[1:])
        else:
            self.expect("(")
            while self.peek().kind == "VAR":
                variables.append(self.next().value[1:])
            self.expect(")")
        rows: list[tuple] = []
        self.expect("{")
        while not self.accept("}"):
            if len(variables) == 1 and self.peek().value != "(":
                rows.append((self._parse_data_value(),))
            else:
                self.expect("(")
                row = []
                while self.peek().value != ")":
                    row.append(self._parse_data_value())
                self.expect(")")
                rows.append(tuple(row))
        return Values(tuple(variables), tuple(rows))

    def _parse_data_value(self):
        if self.at_keyword("UNDEF"):
            self.next()
            return None
        v = self.parse_var_or_term()
        if isinstance(v, Var):
            raise SyntaxError("variable in VALUES data block")
        return v

    # ---- expressions
    def parse_expression(self) -> Expr:
        return self._expr_or()

    def _expr_or(self) -> Expr:
        e = self._expr_and()
        while self.accept("||"):
            e = EBool("or", e, self._expr_and())
        return e

    def _expr_and(self) -> Expr:
        e = self._expr_rel()
        while self.accept("&&"):
            e = EBool("and", e, self._expr_rel())
        return e

    def _expr_rel(self) -> Expr:
        e = self._expr_add()
        t = self.peek()
        if t.value in ("=", "!=", "<", "<=", ">", ">="):
            self.next()
            return ECmp(t.value, e, self._expr_add())
        if self.at_keyword("IN"):
            self.next()
            return EIn(e, tuple(self._parse_expr_list()))
        if self.at_keyword("NOT"):
            self.next()
            self.expect("IN")
            return EIn(e, tuple(self._parse_expr_list()), negated=True)
        return e

    def _parse_expr_list(self) -> list[Expr]:
        self.expect("(")
        out = []
        if self.peek().value != ")":
            out.append(self.parse_expression())
            while self.accept(","):
                out.append(self.parse_expression())
        self.expect(")")
        return out

    def _expr_add(self) -> Expr:
        e = self._expr_mul()
        while True:
            t = self.peek()
            if t.value == "+":
                self.next()
                e = EArith("+", e, self._expr_mul())
            elif t.value == "-":
                self.next()
                e = EArith("-", e, self._expr_mul())
            else:
                return e

    def _expr_mul(self) -> Expr:
        e = self._expr_unary()
        while True:
            t = self.peek()
            if t.value == "*":
                self.next()
                e = EArith("*", e, self._expr_unary())
            elif t.value == "/":
                self.next()
                e = EArith("/", e, self._expr_unary())
            else:
                return e

    def _expr_unary(self) -> Expr:
        t = self.peek()
        if t.value == "!":
            self.next()
            return ENot(self._expr_unary())
        if t.value == "-":
            self.next()
            return ENeg(self._expr_unary())
        if t.value == "+":
            self.next()
            return self._expr_unary()
        return self._expr_primary()

    def _expr_primary(self) -> Expr:
        t = self.peek()
        if t.value == "(":
            self.next()
            e = self.parse_expression()
            self.expect(")")
            return e
        if t.kind == "VAR":
            self.next()
            return EVar(t.value[1:])
        if t.kind == "NUMBER":
            self.next()
            if re.fullmatch(r"[+-]?\d+", t.value):
                return ELit(Term(t="int", i=int(t.value)))
            return ELit(Term(t="double", d=float(t.value)))
        if t.kind == "STRING":
            return ELit(self._parse_literal_token())
        if t.kind == "KEYWORD":
            up = t.value.upper()
            if up in ("TRUE", "FALSE"):
                self.next()
                return ELit(Term(t="bool", b=up == "TRUE"))
            if up in AGG_NAMES:
                return self._parse_aggregate()
            if up == "EXISTS":
                self.next()
                return EExists(self.parse_group_graph_pattern())
            if up == "NOT":
                self.next()
                self.expect("EXISTS")
                return EExists(self.parse_group_graph_pattern(), negated=True)
            if up in BUILTIN_NAMES:
                self.next()
                if up in ("NOW", "RAND", "UUID", "STRUUID") and self.peek().value == "(":
                    self.expect("(")
                    self.expect(")")
                    return EFunc(up, ())
                if up == "SAMETERM":
                    args = self._parse_expr_list()
                    return ECmp("sameTerm", args[0], args[1])
                args = self._parse_expr_list()
                return EFunc(up, tuple(args))
        # IRI function call (iriOrFunction: custom/extension functions
        # dispatched by full IRI — the hook the reference panics on,
        # interpreter.rs:655-659) or plain term literal
        if t.kind in ("IRIREF", "PNAME"):
            if t.kind == "IRIREF":
                iri = t.value[1:-1]
            else:
                prefix, _, local = t.value.partition(":")
                iri = expand_pname(prefix, local, self.prefixes)
            self.next()
            if self.peek().value == "(":
                return EFunc(iri, tuple(self._parse_expr_list()))
            return ELit(parse_iri(iri))
        term = self.parse_var_or_term()
        if isinstance(term, Term):
            return ELit(term)
        raise SyntaxError(f"unexpected token {t.value!r} at {t.pos}")

    def _parse_aggregate(self) -> Expr:
        name = self.next().value.upper()
        self.expect("(")
        distinct = bool(self.accept("DISTINCT"))
        expr: Expr | None = None
        sep = " "
        if self.accept("*"):
            pass
        else:
            expr = self.parse_expression()
        if name == "GROUP_CONCAT" and self.accept(";"):
            kw = self.expect(kind="KEYWORD").value.upper()
            if kw != "SEPARATOR":
                raise SyntaxError("expected SEPARATOR")
            self.expect("=")
            sep_tok = self.expect(kind="STRING")
            sep = _unquote(sep_tok.value)
        self.expect(")")
        return _EAgg(name.lower(), expr, distinct, sep)


@dataclass(frozen=True)
class _EAgg(Expr):
    """Parse-time aggregate marker, replaced by variables referencing
    Group output during finish_select."""

    func: str
    expr: Expr | None
    distinct: bool
    separator: str


def parse_query(text: str) -> Op:
    parser = Parser(text)
    op = parser.parse_query()
    _refuse_case_colliding_variables(parser.tokens)
    return op


def _refuse_case_colliding_variables(tokens: list[Token]) -> None:
    """SPARQL variables are case-sensitive but Spark resolves column
    names case-insensitively: ?x and ?X would read one column (or fail
    as an ambiguous reference), so such a query is refused."""
    seen: dict[str, str] = {}
    for t in tokens:
        if t.kind == "VAR":
            name = t.value[1:]
            other = seen.setdefault(name.casefold(), name)
            if other != name:
                raise NotImplementedError(
                    f"variables ?{other} and ?{name} differ only in case; "
                    "this engine resolves variables case-insensitively"
                )
