"""Property-path compilation (reference Path operator — declared but
todo!, calc_data_types.rs:17-26, calc_engine.rs:153-156; semantics from
SPARQL 1.1 §9.1).

- link         -> plain triple-pattern scan
- reverse (^)  -> swap subject/object
- sequence (/) -> chained joins through fresh intermediate variables
- alternative  -> union
- zero_or_one  -> union with the identity mapping
- negated (!)  -> scan with predicate not-in set
- zero/one_or_more (* +) -> BFS from a bound endpoint, otherwise the
  global closure (pointer doubling, or semi-naive delta iteration for
  big step relations). The BFS and the semi-naive closure both run
  operators.graph.frontier_search, the package's one frontier loop.
  This is the one operator with no declarative Spark primitive (SURVEY
  §7 M4) — the loop is driver-side but every step is a full
  cluster-parallel join.

GRAPH ?g around a path runs as ONE grouped closure: every pair carries
a flat graph key and the iterative joins key on (graph, node), so the
iteration count is the max diameter across graphs and there is exactly
one job DAG regardless of how many named graphs the store holds (a
per-graph driver loop would be linear in catalog size — fine for
Wikidata-shaped stores, quadratic pain for a warehouse with thousands
of named graphs).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import graph as graph_ops
from .algebra import PathExpr, PathPattern, TriplePattern, Var
from .terms import Term


def _fresh() -> Var:
    return Var("__p" + uuid.uuid4().hex[:8])


#: flat (string) graph-key column used by grouped (GRAPH ?g) closures
_G = "__gkey"


def _pairs(compiler, path: PathExpr, s: Var, o: Var, g: str | None = None) -> DataFrame:
    """Compile a path into a DataFrame with columns [s.name, o.name]
    (+ the flat graph-key column ``g`` when compiling inside GRAPH ?g).

    Inside GRAPH <iri> the scans are graph-scoped. Inside GRAPH ?var
    every scan binds the row's graph as the plain string ``g`` and all
    joins/closures group on it — one plan, all graphs."""
    from .scan import scan_pattern

    graph = getattr(compiler, "_graph_ctx", None)
    dataset = getattr(compiler, "_dataset_ctx", None)
    cols = [s.name, o.name] + ([g] if g else [])
    if path.kind == "link":
        if g is not None:
            return _scan_grouped(compiler, TriplePattern(s, path.terms[0], o), g)
        return scan_pattern(
            compiler.statements,
            TriplePattern(s, path.terms[0], o),
            graph=graph,
            dataset=dataset,
        )
    if path.kind == "reverse":
        inner = _pairs(compiler, path.parts[0], o, s, g)
        return inner.select(*cols)
    if path.kind == "sequence":
        parts = path.parts
        zo = next(
            (i for i, p in enumerate(parts) if p.kind in ("zero_or_one", "zero_or_more")),
            None,
        )
        if zo is not None:
            # A/B?/C = A/C UNION A/B'/C   (B' = B's distinct non-loop pairs)
            # A/B*/C = A/C UNION A/B⁺'/C  (B⁺' = closure minus self-loops)
            # Exact: inside a sequence the zero-length endpoint is bound
            # by its neighbours, so the spec's all-graph-nodes identity
            # set degenerates to the bound value — matching it against a
            # materialized node set (a full-corpus distinct at 100 TB)
            # is a no-op filter. The strict step drops self-loop pairs
            # (the zero branch already covers x=x once) and dedups
            # (?/* are set-valued, plain sequence steps are bags).
            # Recursion expands further ?/* parts in either branch.
            without = parts[:zo] + parts[zo + 1 :]
            zpath = without[0] if len(without) == 1 else PathExpr("sequence", parts=without)
            zero_branch = _pairs(compiler, zpath, s, o, g).select(*cols)
            strict_kind = "strict01" if parts[zo].kind == "zero_or_one" else "strictplus"
            strict = PathExpr(strict_kind, parts=parts[zo].parts)
            wpath = PathExpr("sequence", parts=parts[:zo] + (strict,) + parts[zo + 1 :])
            with_branch = _pairs(compiler, wpath, s, o, g).select(*cols)
            return zero_branch.unionByName(with_branch)
        mid_vars = [s] + [_fresh() for _ in range(len(parts) - 1)] + [o]
        df = _pairs(compiler, parts[0], mid_vars[0], mid_vars[1], g)
        for i, part in enumerate(parts[1:], start=1):
            nxt = _pairs(compiler, part, mid_vars[i], mid_vars[i + 1], g)
            on = [mid_vars[i].name] + ([g] if g else [])
            df = df.join(nxt, on=on).drop(mid_vars[i].name)
        return df.select(*cols)
    if path.kind == "strict01":
        # internal: the with-branch step of an in-sequence zero-or-one
        step = _pairs(compiler, path.parts[0], s, o, g)
        return step.filter(~F.col(s.name).eqNullSafe(F.col(o.name))).distinct()
    if path.kind == "strictplus":
        # internal: in-sequence zero-or-more -> one-or-more closure
        # minus self-loop pairs (cycle nodes), already distinct
        step = _pairs(compiler, path.parts[0], s, o, g).distinct()
        closure = _transitive_closure(step, s.name, o.name, group=(g,) if g else ())
        return closure.filter(~F.col(s.name).eqNullSafe(F.col(o.name)))
    if path.kind == "alternative":
        dfs = [_pairs(compiler, p, s, o, g).select(*cols) for p in path.parts]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out
    if path.kind == "zero_or_one":
        step = _pairs(compiler, path.parts[0], s, o, g)
        return step.select(*cols).unionByName(_identity_pairs(compiler, s, o, g)).distinct()
    if path.kind == "negated":
        return _negated_pairs(compiler, path, s, o, g)
    if path.kind in ("zero_or_more", "one_or_more"):
        step = _pairs(compiler, path.parts[0], s, o, g).distinct()
        closure = _transitive_closure(step, s.name, o.name, group=(g,) if g else ())
        if path.kind == "zero_or_more":
            closure = closure.unionByName(_identity_pairs(compiler, s, o, g)).distinct()
        return closure
    raise NotImplementedError(f"path kind {path.kind}")


def _scan_grouped(compiler, tp: TriplePattern, g: str) -> DataFrame:
    """One triple-pattern scan inside GRAPH ?var, normalized so the
    graph binding is the FLAT graph IRI string ``g`` (term-struct join
    keys trip a Catalyst binding bug — see Compiler._keyed_join — and
    flat strings hash cheaper at shuffle time anyway)."""
    from .scan import scan_pattern

    gv = _fresh()
    df = scan_pattern(
        compiler.statements,
        tp,
        graph=gv,
        dataset=getattr(compiler, "_dataset_ctx", None),
    )
    return df.withColumn(g, F.col(gv.name)["s"]).drop(gv.name)


def _identity_pairs(compiler, s: Var, o: Var, g: str | None = None) -> DataFrame:
    """{(x, x) | x is any subject or object node} — the SPARQL
    zero-length-path node set (per graph when grouped)."""
    from .scan import scan_pattern

    graph = getattr(compiler, "_graph_ctx", None)
    dataset = getattr(compiler, "_dataset_ctx", None)
    if g is not None:
        subs = _scan_grouped(
            compiler, TriplePattern(s, Var("__ip"), Var("__io")), g
        ).select(s.name, g)
        objs = _scan_grouped(
            compiler, TriplePattern(Var("__is"), Var("__ip2"), s), g
        ).select(s.name, g)
        nodes = subs.unionByName(objs).distinct()
        return nodes.select(F.col(s.name), F.col(s.name).alias(o.name), F.col(g))
    subs = scan_pattern(
        compiler.statements,
        TriplePattern(s, Var("__ip"), Var("__io")),
        graph=graph,
        dataset=dataset,
    ).select(s.name)
    objs = scan_pattern(
        compiler.statements,
        TriplePattern(Var("__is"), Var("__ip2"), s),
        graph=graph,
        dataset=dataset,
    ).select(s.name)
    nodes = subs.unionByName(objs).distinct()
    return nodes.select(F.col(s.name), F.col(s.name).alias(o.name))


def _negated_pairs(
    compiler, path: PathExpr, s: Var, o: Var, g: str | None = None
) -> DataFrame:
    from .scan import scan_pattern

    pvar = _fresh()
    if g is not None:
        df = _scan_grouped(compiler, TriplePattern(s, pvar, o), g)
    else:
        df = scan_pattern(
            compiler.statements,
            TriplePattern(s, pvar, o),
            graph=getattr(compiler, "_graph_ctx", None),
            dataset=getattr(compiler, "_dataset_ctx", None),
        )
    excluded = [t for t in path.terms if isinstance(t, Term) and t.t == "entity"]
    cond = F.lit(True)
    for t in excluded:
        cond = cond & ~(
            (F.col(pvar.name)["t"] == "entity")
            & (F.col(pvar.name)["k"] == t.k)
            & (F.col(pvar.name)["e"] == t.e)
        )
    return df.filter(cond).select(*([s.name, o.name] + ([g] if g else [])))


#: step-relation row count above which the global closure switches from
#: pointer doubling to semi-naive delta iteration (see _transitive_closure)
SEMINAIVE_THRESHOLD = 250_000


def _transitive_closure(step: DataFrame, s: str, o: str, group: tuple[str, ...] = ()) -> DataFrame:
    """Transitive closure; the step relation's size picks one of two
    physical strategies:

    - pointer doubling (at most SEMINAIVE_THRESHOLD step rows): each
      round composes the closure-so-far with itself (paths of length
      <=2^k after round k) — ceil(log2 d) rounds for a diameter-d
      graph. Right when the step relation (and hence the closure) is
      small: rounds, not per-round work, dominate, since every round is
      a cluster-wide shuffle.
    - semi-naive delta iteration (above it): a ``frontier_search`` over
      pairs from the step relation — each hop extends only the pairs
      DISCOVERED LAST HOP by one base step (delta JOIN step, anti-join
      seen). d hops, but per-hop work is |delta|x|step|, never
      |closure|x|closure|. Right for big graphs with short diameters
      (the Wikidata P279*/P131* shape: tens of millions of edges,
      diameter ~30): doubling's self-join of a 10^8-pair closure is the
      scale-killer, not the round count.

    ``group`` columns (the flat graph key of a GRAPH ?var closure) join
    and dedup alongside the endpoints: ONE closure loop covers every
    graph, with the iteration count set by the max diameter across
    groups — not a loop per graph.

    Join/dedup run on flat serialized keys, not the raw term structs:
    struct join keys + downstream nested-field extraction trip a
    Catalyst binding bug (see Compiler._keyed_join), and flat string
    keys hash cheaper at shuffle time anyway. localCheckpoint()
    truncates lineage per round in both strategies."""
    gcols = list(group)
    out_cols = [s, o, *gcols]

    def with_key(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__pk", F.to_json(F.struct(F.col(s), F.col(o), *[F.col(c) for c in gcols]))
        )

    paths = with_key(step.select(*out_cols)).dropDuplicates(["__pk"]).localCheckpoint()
    n = paths.count()
    join_on = ["__mid", *gcols]

    if n > SEMINAIVE_THRESHOLD:
        base = paths.select(*gcols, F.col(s).alias("__mid"), F.col(o))

        def expand(delta: DataFrame, hop: int) -> DataFrame:
            return with_key(
                delta.select(*gcols, F.col(s), F.col(o).alias("__mid"))
                .join(base, on=join_on)
                .select(*out_cols)
            )

        closure, drained = graph_ops.frontier_search(paths, expand, ["__pk"])
        if not drained:
            raise RuntimeError(f"transitive closure did not drain within {graph_ops.MAX_HOPS} hops")
        return closure.drop("__pk")

    # 2^20 > SEMINAIVE_THRESHOLD >= the diameter: the cap is never reached
    for _ in range(20):
        doubled = (
            paths.select(*gcols, F.col(s), F.col(o).alias("__mid"))
            .join(paths.select(*gcols, F.col(s).alias("__mid"), F.col(o)), on=join_on)
            .select(*out_cols)
        )
        grown = (
            with_key(doubled)
            .unionByName(paths)
            .dropDuplicates(["__pk"])
            .localCheckpoint()
        )
        n2 = grown.count()
        if n2 == n:
            break
        paths, n = grown, n2
    return paths.drop("__pk")


def _reachable_from(step: DataFrame, s: str, o: str, src_col, group: tuple[str, ...] = ()) -> DataFrame:
    """Nodes reachable in >= 1 step from a bound source: a
    ``frontier_search`` over the step relation (materialised once), NOT
    the global closure — with a bound endpoint the work is the
    reachable subgraph, however large the full graph is. With ``group``
    columns the BFS runs over every graph at once, keyed (graph, node).
    A search that has not drained within MAX_HOPS hops raises."""
    gcols = list(group)
    step = step.select(s, o, *gcols).localCheckpoint()

    def keyed(df: DataFrame) -> DataFrame:
        return df.select(o, *gcols).withColumn(
            "__nk", F.to_json(F.struct(F.col(o).alias("v"), *[F.col(x) for x in gcols]))
        )

    def expand(frontier: DataFrame, hop: int) -> DataFrame:
        hop_from = frontier.select(
            F.col(o).alias("__from"), *[F.col(c).alias(f"__f_{c}") for c in gcols]
        )
        cond = F.col("__from").eqNullSafe(step[s])
        for c in gcols:
            cond = cond & (F.col(f"__f_{c}") == step[c])
        return keyed(hop_from.join(step, cond))

    seed = keyed(step.filter(step[s].eqNullSafe(src_col))).dropDuplicates(["__nk"])
    visited, drained = graph_ops.frontier_search(seed, expand, ["__nk"])
    if not drained:
        raise RuntimeError(f"BFS frontier did not drain within {graph_ops.MAX_HOPS} hops")
    return visited.drop("__nk")


def _graph_catalog(compiler) -> list[str]:
    """The store's named-graph catalog (or the FROM NAMED list when a
    dataset clause is active): metadata-scale, memoized ON the
    statements frame itself (lifetime-tied, so a GC'd service frame can
    never leak a stale catalog through id() reuse; _c_service swaps
    compiler.statements). A deployment maintains this as table
    metadata, so later compiles are a dict lookup, not a data-sized
    job."""
    dataset = getattr(compiler, "_dataset_ctx", None)
    if dataset is not None:
        return list(dataset[1])
    graphs = getattr(compiler.statements, "_graft_graph_catalog", None)
    if graphs is None:
        graphs = sorted(
            r[0]
            for r in compiler.statements.filter(F.col("graph_id").isNotNull())
            .select("graph_id")
            .distinct()
            .collect()
        )
        compiler.statements._graft_graph_catalog = graphs
    return graphs


def compile_path(compiler, op: PathPattern) -> DataFrame:
    from .algebra import Var as _V
    from .expressions import lit_term

    if isinstance(getattr(compiler, "_graph_ctx", None), _V):
        # GRAPH ?g { ... path ... }: ONE grouped closure with the flat
        # graph key folded into every join/dedup — one job DAG
        # regardless of catalog size, iteration count = max diameter
        # across graphs (previously a driver-side loop compiling one
        # closure per catalog graph). Beyond-parity: the reference
        # executes neither paths nor GRAPH (todo!, calc_engine.rs:
        # 153-156).
        from ..model.schema import make_term

        gvar: _V = compiler._graph_ctx
        # fresh endpoint vars when an endpoint is a bound term, collides
        # with the graph var, or repeats the other endpoint — the
        # grouped pair frame needs three distinct column names; the
        # original variables are re-equated below
        s2 = op.s if isinstance(op.s, Var) and op.s.name != gvar.name else _fresh()
        o2 = (
            op.o
            if isinstance(op.o, Var)
            and op.o.name != gvar.name
            and op.o.name != s2.name
            else _fresh()
        )

        if op.path.kind in ("one_or_more", "zero_or_more") and (
            isinstance(op.s, Term) ^ isinstance(op.o, Term)
        ):
            # bound endpoint: grouped frontier BFS over (graph, node)
            step = _pairs(compiler, op.path.parts[0], s2, o2, g=_G)
            forward = isinstance(op.s, Term)
            if not forward:  # bound object: walk the reversed edges
                step = step.select(
                    F.col(o2.name).alias(s2.name),
                    F.col(s2.name).alias(o2.name),
                    _G,
                )
            src = lit_term(op.s if forward else op.o)
            out_name = (o2 if forward else s2).name
            df = _reachable_from(step, s2.name, o2.name, src, group=(_G,)).select(
                F.col(o2.name).alias(out_name), F.col(_G)
            )
            if op.path.kind == "zero_or_more":
                # zero-length path: the bound endpoint reaches itself in
                # every catalog graph (driver-side list is metadata)
                graphs = _graph_catalog(compiler)
                if graphs:
                    self_rows = (
                        compiler.spark.createDataFrame(
                            [(iri,) for iri in graphs], f"{_G} string"
                        ).select(src.alias(out_name), F.col(_G))
                    )
                    df = df.unionByName(self_rows).dropDuplicates([out_name, _G])
        else:
            df = _pairs(compiler, op.path, s2, o2, g=_G)
            if not isinstance(op.s, Var):
                df = df.filter(F.col(s2.name).eqNullSafe(lit_term(op.s))).drop(s2.name)
            if not isinstance(op.o, Var):
                df = df.filter(F.col(o2.name).eqNullSafe(lit_term(op.o))).drop(o2.name)
            if (
                isinstance(op.s, Var)
                and isinstance(op.o, Var)
                and op.s.name == op.o.name
                and op.s.name != gvar.name
            ):
                # ?x path ?x — same variable both ends: closure pairs
                # whose endpoints coincide
                df = df.filter(F.col(s2.name).eqNullSafe(F.col(o2.name))).drop(o2.name)
            # zero-length self-matches for bound endpoints, per catalog
            # graph — §18.5 ZeroLengthPath matches any term regardless
            # of graph membership (round-7 conformance review; mirrors
            # the zero_or_more BFS self-rows above)
            zl = op.path.kind in ("zero_or_one", "zero_or_more")
            if zl and isinstance(op.s, Term) and isinstance(op.o, Term) and op.s == op.o:
                graphs = _graph_catalog(compiler)
                if graphs:
                    unit = compiler.spark.createDataFrame(
                        [(iri,) for iri in graphs], f"{_G} string"
                    )
                    df = df.unionByName(unit).dropDuplicates([_G])
            elif (
                op.path.kind == "zero_or_one"
                and (isinstance(op.s, Term) ^ isinstance(op.o, Term))
            ):
                graphs = _graph_catalog(compiler)
                if graphs:
                    src = lit_term(op.s if isinstance(op.s, Term) else op.o)
                    out_name = (o2 if isinstance(op.s, Term) else s2).name
                    self_rows = compiler.spark.createDataFrame(
                        [(iri,) for iri in graphs], f"{_G} string"
                    ).select(src.alias(out_name), F.col(_G))
                    df = df.unionByName(self_rows).dropDuplicates([out_name, _G])

        # flat graph key -> the graph variable's term binding
        df = df.withColumn(
            gvar.name, make_term(t="str", k="string", s=F.col(_G))
        ).drop(_G)
        # endpoints that ARE the graph variable re-equate against it
        if isinstance(op.s, Var) and op.s.name == gvar.name and s2.name in df.columns:
            df = df.filter(F.col(s2.name).eqNullSafe(F.col(gvar.name))).drop(s2.name)
        if isinstance(op.o, Var) and op.o.name == gvar.name and o2.name in df.columns:
            df = df.filter(F.col(o2.name).eqNullSafe(F.col(gvar.name))).drop(o2.name)
        return df

    s = op.s if isinstance(op.s, Var) else _fresh()
    # `?x path ?x` — the repeated endpoint variable gets a FRESH second
    # column (the GRAPH branch above always did this; without it the
    # pair scan collapses to one ambiguous column and composite paths
    # crash or see only self-loops — round-7 conformance review); the
    # original variable is re-equated after the pairs are built
    o = (
        op.o
        if isinstance(op.o, Var)
        and (not isinstance(op.s, Var) or op.o.name != op.s.name)
        else _fresh()
    )

    # closure with exactly one bound endpoint: BFS from that endpoint
    # over the one-step relation instead of materializing the global
    # transitive closure (the online-traversal scale path)
    if op.path.kind in ("one_or_more", "zero_or_more") and (
        isinstance(op.s, Term) ^ isinstance(op.o, Term)
    ):
        step = _pairs(compiler, op.path.parts[0], s, o)
        forward = isinstance(op.s, Term)
        if not forward:  # bound object: walk the reversed edges
            step = step.select(F.col(o.name).alias(s.name), F.col(s.name).alias(o.name))
        src = lit_term(op.s if forward else op.o)
        out_var = (o if forward else s).name
        reached = _reachable_from(step, s.name, o.name, src).select(
            F.col(o.name).alias(out_var)
        )
        if op.path.kind == "zero_or_more":
            # zero-length path: the bound endpoint reaches itself
            self_row = compiler.spark.range(1).select(src.alias(out_var))
            reached = reached.unionByName(self_row).dropDuplicates([out_var])
        return reached

    # zero-length path with BOTH endpoints the same bound term: §18.5's
    # ZeroLengthPath matches any term, in or out of the graph, so the
    # solution is unconditionally the unit relation — `ASK { <c> <p>*
    # <c> }` is true even when <c> never appears in the data (round-7
    # conformance review; the one-bound-endpoint BFS branch above
    # already adds its self row unconditionally)
    zero_len = op.path.kind in ("zero_or_one", "zero_or_more")
    if zero_len and isinstance(op.s, Term) and isinstance(op.o, Term) and op.s == op.o:
        return compiler.spark.range(1).select()

    df = _pairs(compiler, op.path, s, o)

    if not isinstance(op.s, Var):
        df = df.filter(F.col(s.name).eqNullSafe(lit_term(op.s))).drop(s.name)
    if not isinstance(op.o, Var):
        df = df.filter(F.col(o.name).eqNullSafe(lit_term(op.o))).drop(o.name)
    if isinstance(op.s, Var) and isinstance(op.o, Var) and op.s.name == op.o.name:
        # repeated endpoint variable: keep pairs whose ends coincide
        df = df.filter(F.col(s.name).eqNullSafe(F.col(o.name))).drop(o.name)
    if zero_len and (isinstance(op.s, Term) ^ isinstance(op.o, Term)):
        # zero_or_one with one bound endpoint (zero_or_more goes
        # through the BFS branch above): the bound term reaches itself
        # regardless of graph membership — union the self row
        src = lit_term(op.s if isinstance(op.s, Term) else op.o)
        out_name = (o if isinstance(op.s, Term) else s).name
        self_row = compiler.spark.range(1).select(src.alias(out_name))
        df = df.unionByName(self_row).dropDuplicates([out_name])
    return df
