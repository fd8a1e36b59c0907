"""Plan compiler: algebra Op tree -> DataFrame.

Replaces the reference's recursive_qep_traversal (calc_engine.rs:
105-351), which materializes every operator's output. Here each
operator adds declarative DataFrame transformations and Catalyst picks
physical strategies: natural joins become broadcast/SMJ as statistics
dictate, EXISTS becomes a semi join instead of a re-executed subplan
(calc_engine.rs:1118-1121), filters push into the parquet scan.

Join-order note (reference BGP greedy ordering, calc_engine.rs:
109-151): patterns are pre-ordered most-bound-first — a zero-cost
selectivity heuristic — then chained so every join shares a variable
when possible (avoiding accidental cartesians); AQE re-plans at
runtime with real sizes.
"""

from __future__ import annotations

from itertools import product as _iproduct

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model.schema import TERM_T, make_term
from .algebra import (
    AggSpec,
    Bgp,
    Distinct,
    EExists,
    Expr,
    Extend,
    Filter,
    Group,
    Join,
    LateralJoin,
    LeftJoin,
    Minus,
    Op,
    OrderBy,
    PathPattern,
    Project,
    Reduced,
    Slice,
    TriplePattern,
    Union,
    Values,
    Var,
)
from .expressions import ExprCompiler, ebv, lit_term, num, render, sort_key
from .scan import scan_pattern
from .terms import Term


class Compiler:
    # a join side estimated below this many rows gets a broadcast hint:
    # filters over the statements union have no Catalyst size estimate
    # (SizeInBytes of Filter == child), so without the hint every BGP
    # join is a full-shuffle sort-merge join even when one side is a
    # single predicate's few thousand rows
    BROADCAST_ROWS = 250_000

    def __init__(
        self,
        spark: SparkSession,
        statements: DataFrame,
        union_stmt_forms: bool = False,
    ):
        self.spark = spark
        self.statements = statements
        # reference calc_engine.rs:3182-3203 semantics for bound-subject/
        # var-predicate scans (see scan.py module docstring); default off
        # to match the reference's published cardinalities
        self.union_stmt_forms = union_stmt_forms
        # active GRAPH scope (Term | Var | None): set while compiling
        # the body of a Graph operator; scans read it to filter/bind
        # the quad's graph_id
        self._graph_ctx: "Term | Var | None" = None
        # active FROM/FROM NAMED dataset, as (default_graphs, named
        # _graphs) tuples of IRI strings, or None when the query has no
        # dataset clause; scans read it through _graph_clause
        self._dataset_ctx: "tuple | None" = None
        self._pred_stats: tuple[dict, int] | None = None
        # SERVICE registry: iri -> statements DataFrame (term columns
        # ensured at registration time); stats memo per service so the
        # join-order/broadcast estimates inside a SERVICE body come
        # from THAT dataset, computed once per engine
        self.services: dict[str, DataFrame] = {}
        self._svc_stats: dict[str, "tuple[dict, int] | None"] = {}
        # (predicates, object vars) -> star pivot Columns (_star_pivot)
        self._star_cols: dict[tuple, tuple] = {}
        # the label service's per-engine state (_label_table,
        # _label_cols): the graph it may keep tables of, (langs, kind)
        # -> checkpointed ranked term table, base var -> join Columns
        self._engine_statements = statements
        self._label_tables: dict[tuple, DataFrame] = {}
        self._label_join_cols: dict[str, tuple] = {}
        # HTTP federation opt-in (GraphEngine.allow_remote_services):
        # False = never touch the network (unregistered IRIs stay a
        # KeyError / SILENT unit solution); True = any http(s) SERVICE
        # IRI may be fetched; a frozenset = allowlist of endpoints —
        # the Jena/WDQS-style posture for a shared deployment.
        self.remote_allowed: "bool | frozenset[str]" = False
        # set when this compile fetched a remote SERVICE endpoint (or
        # swallowed its failure under SILENT): the resulting plan
        # embeds a network snapshot and must NOT enter the plan cache
        # — a cached fetch would serve stale (or permanently-degraded)
        # federation results for the process lifetime
        self.used_remote_service = False
        # DataFrame -> column list memo. Spark 4 analyzes lazily, so
        # every .columns read on a freshly built DataFrame re-analyzes
        # its whole (growing) plan — O(ops^2) driver time per compile.
        # Each _c_* op KNOWS its output columns, so it remembers them
        # here and sibling ops read the memo instead of forcing
        # analysis; a miss falls back to .columns (always correct).
        import weakref

        self._colmemo: "weakref.WeakKeyDictionary[DataFrame, list[str]]" = (
            weakref.WeakKeyDictionary()
        )

    def _cols(self, df: DataFrame) -> list[str]:
        got = self._colmemo.get(df)
        if got is None:
            got = self._colmemo[df] = df.columns
        return list(got)

    def _remember(self, df: DataFrame, cols) -> DataFrame:
        self._colmemo[df] = list(cols)
        return df

    def _tp_cols(self, tp: TriplePattern) -> list[str]:
        """Output columns of scan_pattern(tp): the graph var (when
        inside GRAPH ?g), then the pattern's variables in s,p,o binding
        order, first occurrence wins (mirrors scan.py's
        repeated-variable handling)."""
        out: list[str] = []
        if isinstance(self._graph_ctx, Var):
            out.append(self._graph_ctx.name)
        for x in (tp.s, tp.p, tp.o):
            if isinstance(x, Var) and x.name not in out:
                out.append(x.name)
        return out

    def stats(self) -> tuple[dict, int]:
        """Per-predicate statement counts — the Spark analogue of the
        reference's sorted-index cardinalities (its BGP greedy ordering
        sorts evaluated relations by real row count, calc_engine.rs:
        116-119). One tiny distributed aggregate, cached per engine;
        at full-Wikidata scale this is still only ~#predicates rows."""
        if self._pred_stats is None:
            # default-graph stats: estimates drive join order, broadcast
            # hints AND the star rewrite's functionality proof — named-
            # graph copies of a claim would otherwise make a functional
            # predicate look non-functional (n > distinct subjects)
            base = self.statements
            if "graph_id" in base.columns:
                base = base.filter(F.col("graph_id").isNull())
            # two-level aggregate instead of count_distinct, keyed on a
            # PACKED 64-bit subject hash: the inner groupBy partial-
            # aggregates map-side (the subject-partitioned cache puts
            # each (pred, subject) in one partition, so the exchange
            # carries ~one skinny long-keyed row per distinct pair, not
            # the table's width of count_distinct expand rows — the
            # dominant warm cost at 30x), and the 16-byte map entries
            # stay small enough for a default-sized driver heap (the
            # wide-key variant built ~80B entries and GC-deadlocked a
            # 1g vanilla session after 100+ prior queries). xxhash64
            # never returns null and a collision can only LOWER ds, so
            # the star rewrite's functionality proof (n == ds) can only
            # falsely reject — losing an optimization, never
            # corrupting results.
            per_subj = base.groupBy(
                "pred_kind",
                "pred_id",
                F.xxhash64(
                    F.col("subject_kind"),
                    F.col("subject_id"),
                    F.col("subject_stmt"),
                ).alias("__sh"),
            ).agg(F.count(F.lit(1)).alias("c"))
            rows = (
                per_subj.groupBy("pred_kind", "pred_id")
                .agg(
                    F.sum("c").alias("n"),
                    F.count(F.lit(1)).alias("ds"),
                )
                .collect()
            )
            d = {(r["pred_kind"], r["pred_id"]): (r["n"], r["ds"]) for r in rows}
            self._pred_stats = (d, sum(n for n, _ in d.values()))
        return self._pred_stats

    def _pred_count(self, pid: int) -> int:
        d, _ = self.stats()
        return d.get(("P", pid), (0, 0))[0]

    def _functional(self, pid: int) -> bool:
        """True when every subject has exactly one statement with this
        predicate (count == distinct subjects) — the precondition for
        the star-join rewrite."""
        d, _ = self.stats()
        n, ds = d.get(("P", pid), (0, 0))
        return n > 0 and n == ds

    def _estimate(self, tp: TriplePattern) -> int:
        """Estimated result rows of one triple-pattern scan: the bound
        predicate's true count, discounted 100x per bound endpoint."""
        d, total = self.stats()
        p = tp.p
        if isinstance(p, Var):
            base = total
        elif p.t == "entity" and p.k in ("P", "Pstmt", "Psval", "Pqual"):
            base = d.get(("P", p.e), (0, 0))[0]
        else:
            base = 0  # non-property predicate matches nothing
        sel = 1
        if not isinstance(tp.s, Var):
            sel *= 100
        if not isinstance(tp.o, Var):
            sel *= 100
        return max(1, base // sel)

    def _est_op(self, op: Op) -> int:
        """Coarse cardinality estimate for any algebra node — only used
        to decide broadcast hints, so order-of-magnitude is enough."""
        _, total = self.stats()
        t = type(op).__name__
        if t == "TriplePattern":
            return self._estimate(op)
        if t == "Bgp":
            if not op.patterns:
                return 1
            return max(self._estimate(tp) for tp in op.patterns)
        if t in ("Join", "LateralJoin"):
            return max(self._est_op(op.left), self._est_op(op.right))
        if t == "LeftJoin":
            return self._est_op(op.left)
        if t == "Union":
            return self._est_op(op.left) + self._est_op(op.right)
        if t == "Minus":
            return self._est_op(op.left)
        if t == "Filter":
            return max(1, self._est_op(op.input) // 3)
        if t == "Group":
            return max(1, self._est_op(op.input) // 10)
        if t == "Values":
            return len(op.rows)
        if t == "Slice":
            n = self._est_op(op.input)
            return min(n, op.length) if op.length is not None else n
        if t == "PathPattern":
            p = op.path
            if p.kind == "link" and p.terms and p.terms[0].t == "entity":
                return self._pred_count(p.terms[0].e)
            return total
        child = getattr(op, "input", None)
        return self._est_op(child) if child is not None else total

    # ---------------- helpers

    def _expr_compiler(
        self, df: DataFrame, markers: dict | None = None, bind: bool = False
    ) -> ExprCompiler:
        from .expressions import _bool_result

        def compile_exists(e: EExists) -> Column:
            if not markers or id(e) not in markers:
                raise NotImplementedError("EXISTS marker not bound for this expression")
            m = F.col(markers[id(e)])
            return _bool_result(~m if e.negated else m)

        return ExprCompiler(df, compile_exists, colset=self._cols(df), bind=bind)

    @staticmethod
    def _apply_bindings(df: DataFrame, ec: ExprCompiler) -> DataFrame:
        """Materialize the compiler's let-bindings as intermediate
        columns (sequential withColumn: later bindings may reference
        earlier ones by name). The extra projections collapse in the
        optimizer; what they buy is small ANALYZER trees per step."""
        for name, col in ec.bindings:
            df = df.withColumn(name, col)
        return df

    def _bind_exists_markers(self, df: DataFrame, exprs) -> tuple[DataFrame, dict]:
        """Pre-compute a boolean column per EXISTS subexpression:
        EXISTS in a general expression (BIND, nested FILTER logic,
        ORDER BY) becomes a left join against the subplan's shared-
        variable set — the decorrelated form of the reference's
        re-execute-subplan-per-expression (calc_engine.rs:1118-1121)."""
        markers: dict[int, str] = {}
        holder = [df]

        def visit(e) -> None:
            if isinstance(e, EExists):
                if id(e) in markers:
                    return
                sub = self.compile(e.plan)
                d = holder[0]
                dcols, subcols = self._cols(d), self._cols(sub)
                shared = [
                    c for c in dcols if c in subcols and not c.startswith("__ex")
                ]
                m = f"__ex{len(markers)}"
                if not shared:
                    d = d.withColumn(m, F.lit(bool(sub.limit(1).count() > 0)))
                else:
                    rk = (
                        sub.select(
                            F.to_json(F.struct(*[sub[c] for c in shared])).alias("__kj")
                        )
                        .distinct()
                        .withColumn("__exm", F.lit(True))
                    )
                    d = (
                        d.withColumn(
                            "__kj", F.to_json(F.struct(*[d[c] for c in shared]))
                        )
                        .join(rk, "__kj", "left")
                        .withColumn(m, F.coalesce(F.col("__exm"), F.lit(False)))
                        .drop("__kj", "__exm")
                    )
                holder[0] = self._remember(d, dcols + [m])
                markers[id(e)] = m
                return
            for f_ in getattr(e, "__dataclass_fields__", {}):
                v = getattr(e, f_)
                if isinstance(v, Expr):
                    visit(v)
                elif isinstance(v, tuple):
                    for x in v:
                        if isinstance(x, Expr):
                            visit(x)

        for e in exprs:
            if e is not None:
                visit(e)
        return holder[0], markers

    def _natural_join(
        self,
        left: DataFrame,
        right: DataFrame,
        how: str = "inner",
        l_est: int | None = None,
        r_est: int | None = None,
    ) -> DataFrame:
        lcols, rcols = self._cols(left), self._cols(right)
        shared = [c for c in lcols if c in rcols]
        out_cols = lcols + [c for c in rcols if c not in shared]
        if not shared:
            if how == "inner":
                return self._remember(left.crossJoin(right), out_cols)
            # left outer with no shared vars: every combination (SPARQL
            # OPTIONAL with disjoint domains) — cross join keeps lefts
            return self._remember(left.crossJoin(right), out_cols)
        # estimate-driven broadcast hints (see _c_bgp): for left outer
        # only the right side is a legal build side
        b = self.BROADCAST_ROWS
        if how == "inner" and l_est is not None and r_est is not None:
            if r_est <= b and r_est <= l_est:
                right = F.broadcast(right)
            elif l_est <= b:
                left = F.broadcast(left)
        elif how == "left_outer" and r_est is not None and r_est <= b:
            right = F.broadcast(right)
        return self._remember(left.join(right, on=shared, how=how), out_cols)

    # ---------------- main dispatch

    def compile(self, op: Op) -> DataFrame:
        m = getattr(self, "_c_" + type(op).__name__.lower(), None)
        if m is None:
            raise NotImplementedError(f"operator {type(op).__name__}")
        return m(op)

    def _star_groups(
        self, patterns: list[TriplePattern]
    ) -> tuple[list[tuple[int, DataFrame]], list[TriplePattern]]:
        """Subject-star rewrite (the 'property table' transform; the
        optional statements self-join rewrite of SURVEY §4.2): >=2
        patterns sharing a subject — a variable, or a bound entity or
        statement term — each with a distinct bound direct predicate
        that is FUNCTIONAL (exactly one statement per subject, proven
        from stats()) and a distinct plain object variable, compile to
        ONE scan + groupBy(subject) with a max(when(pred=p, obj)) column
        per pattern instead of N-1 subject self-joins. Exact join
        semantics: functionality rules out fan-out, and the
        all-columns-bound filter reproduces the inner join's drop of
        subjects missing a predicate. Each star is one shuffle where
        the join form is N.

        A bound subject (``wd:Qk wdt:P4 ?a ; wdt:P5 ?b``, the point
        lookup the reference answers with one range read of its
        subject-sorted order) adds the subject filter to the scan and
        projects no subject column. On a store cached hash-partitioned
        and sorted on the subject key (tpch_graph.materialized_
        statements) the plan is one InMemoryTableScan and two
        SortAggregates: no Exchange, no broadcast, no join — one Spark
        job where the per-pattern scans cost a broadcast job each."""
        from collections import defaultdict

        if self._graph_ctx is not None:
            # inside GRAPH ?g every scan must bind the graph var; and
            # inside GRAPH <iri> the functionality proof (which comes
            # from DEFAULT-graph stats) says nothing about per-subject
            # multiplicity in the named graph — a duplicated claim
            # there must produce join fan-out, which the star's single
            # groupBy cannot. Fall back to plain scans for any graph
            # scope (round-9 tightening: previously a bound GRAPH took
            # the star path on the default graph's proof).
            return [], patterns
        if self._dataset_ctx is not None:
            # FROM-merged default graphs: the functionality proof comes
            # from default-graph stats and need not hold across the
            # merged graphs, so take the exact join path
            return [], patterns

        # keyed on the subject itself: a Var, or a bound entity /
        # statement Term (both frozen dataclasses, never equal)
        groups: dict[Var | Term, list[TriplePattern]] = defaultdict(list)
        rest: list[TriplePattern] = []
        for tp in patterns:
            if (
                isinstance(tp.o, Var)
                and (
                    (isinstance(tp.s, Var) and tp.o.name != tp.s.name)
                    or (isinstance(tp.s, Term) and tp.s.t in ("entity", "stmt"))
                )
                and isinstance(tp.p, Term)
                and tp.p.t == "entity"
                and tp.p.k == "P"
            ):
                groups[tp.s].append(tp)
            else:
                rest.append(tp)
        stars: list[tuple[int, DataFrame]] = []
        for subj, tps in groups.items():
            preds = [tp.p.e for tp in tps]
            ovars = [tp.o.name for tp in tps]
            svar = subj.name if isinstance(subj, Var) else None
            if (
                len(tps) < 2
                or len(set(preds)) != len(preds)
                or len(set(ovars)) != len(ovars)
                or svar in ovars
                or not all(self._functional(p) for p in preds)
            ):
                rest.extend(tps)
                continue
            from .scan import _filter_subject, _graph_clause

            gcond, _ = _graph_clause(self._graph_ctx, self._dataset_ctx)
            keep = (F.col("pred_kind") == "P") & F.col("pred_id").isin(preds) & gcond
            if svar is None:
                keep = keep & _filter_subject(subj)
            st = self.statements
            if "graph_id" not in self._cols(st):
                st = st.withColumn("graph_id", F.lit(None).cast("string"))
            st = st.filter(keep)
            aggs, cond, rebuilt = self._star_pivot(tuple(preds), tuple(ovars))
            star = st.groupBy("subject_kind", "subject_id", "subject_stmt").agg(*aggs)
            if svar is not None:  # a bound subject is not projected
                rebuilt = [
                    F.when(
                        F.col("subject_kind") == "stmt",
                        make_term(t="stmt", s=F.col("subject_stmt")),
                    )
                    .otherwise(
                        make_term(
                            t="entity", k=F.col("subject_kind"), e=F.col("subject_id")
                        )
                    )
                    .alias(svar),
                    *rebuilt,
                ]
            star = star.filter(cond).select(*rebuilt)
            self._remember(star, ovars if svar is None else [svar, *ovars])
            # estimated like the patterns' own scans: a bound subject
            # discounts each predicate's count as _estimate does
            stars.append((min(self._estimate(tp) for tp in tps), star))
        return stars, rest

    def _star_pivot(self, preds: tuple, ovars: tuple) -> tuple:
        """(aggregates, all-patterns-hit filter, rebuilt object terms)
        of a star on these predicates and object variables. They name
        columns and predicate ids only — never the subject — so every
        point lookup of one shape reuses them: building them is about
        600 py4j calls, most of a star's compile time."""
        from .scan import OBJ_LEGS, _object_term

        key = (preds, ovars)
        got = self._star_cols.get(key)
        if got is not None:
            return got
        # FLAT-LEG pivot (round-9, guide §2/§1.2): aggregate the raw
        # statement columns per pattern and rebuild the term struct
        # once per GROUP, instead of max() over a pre-built 11-field
        # term struct per ROW. The struct-valued max forced a Sort +
        # SortAggregate over full structs (struct buffers are not
        # hash-aggregable) and paid the _object_term CASE tower for
        # every input row; the flat form pays trivial when(pred=p,
        # leg) projections per row and builds structs only for the
        # #subjects surviving rows. Functionality (exactly one row
        # per subject per pred, proven from stats()) makes each
        # per-leg max pick that single row's field — bit-identical
        # to the struct max. The hit marker reproduces the old
        # "aggregated struct is not null" inner-join filter (a
        # matched row always yields a non-null struct, even for the
        # obj_type->'null' tag branch).
        aggs = []
        for i, p in enumerate(preds):
            hit = F.col("pred_id") == p
            aggs.append(F.max(F.when(hit, F.lit(1))).alias(f"__s{i}_hit"))
            aggs.extend(
                F.max(F.when(hit, F.col(leg))).alias(f"__s{i}_{leg}")
                for leg in OBJ_LEGS
            )
        cond = F.lit(True)
        for i in range(len(preds)):
            cond = cond & (F.col(f"__s{i}_hit") == 1)
        rebuilt = [
            _object_term(lambda leg, _i=i: F.col(f"__s{_i}_{leg}")).alias(v)
            for i, v in enumerate(ovars)
        ]
        got = (aggs, cond, rebuilt)
        if len(self._star_cols) < 256:  # bounded: shapes come from clients
            self._star_cols[key] = got
        return got

    def _c_bgp(self, op: Bgp) -> DataFrame:
        if not op.patterns:
            return self.spark.range(1).select()
        # smallest-estimate-first ordering on real per-predicate counts
        # (the reference's greedy rowcount ordering, calc_engine.rs:
        # 116-119); then prefer joining a pattern that shares a variable
        # with what we have (138-143). A side estimated small enough is
        # broadcast-hinted — the pattern's filter has no Catalyst size
        # estimate, so the hint is what turns a full shuffle into a
        # broadcast hash join.
        stars, rest = self._star_groups(list(op.patterns))
        dfs = sorted(
            stars
            + [
                (
                    self._estimate(tp),
                    self._remember(
                        scan_pattern(
                            self.statements,
                            tp,
                            self.union_stmt_forms,
                            graph=self._graph_ctx,
                            dataset=self._dataset_ctx,
                        ),
                        self._tp_cols(tp),
                    ),
                )
                for tp in rest
            ],
            key=lambda x: x[0],
        )
        cur_est, df = dfs.pop(0)
        while dfs:
            idx = next(
                (
                    i
                    for i, (_, d) in enumerate(dfs)
                    if set(self._cols(d)) & set(self._cols(df))
                ),
                0,
            )
            est, d = dfs.pop(idx)
            if est <= self.BROADCAST_ROWS and est <= cur_est:
                d = self._remember(F.broadcast(d), self._cols(d))
            elif cur_est <= self.BROADCAST_ROWS:
                df = self._remember(F.broadcast(df), self._cols(df))
            df = self._natural_join(df, d)
            cur_est = max(cur_est, est)
        return df

    def _c_triplepattern(self, op: TriplePattern) -> DataFrame:
        return self._remember(
            scan_pattern(
                self.statements,
                op,
                self.union_stmt_forms,
                graph=self._graph_ctx,
                dataset=self._dataset_ctx,
            ),
            self._tp_cols(op),
        )

    def _c_dataset(self, op) -> DataFrame:
        """FROM / FROM NAMED (SPARQL 1.1 §13.2): activate the query
        dataset while compiling the body — every scan inside then
        matches the merged FROM graphs where it would match the default
        graph, and GRAPH ranges over the FROM NAMED set only. Purely a
        scan-filter rewrite: no extra operator, no shuffle, and the
        graph_id IN (...) predicate pushes into the parquet scan like
        any other filter."""
        prev, self._dataset_ctx = self._dataset_ctx, (
            op.default_graphs,
            op.named_graphs,
        )
        try:
            return self.compile(op.input)
        finally:
            self._dataset_ctx = prev

    def _c_graph(self, op) -> DataFrame:
        """GRAPH name { body }: compile the body with the graph scope
        active — each scan inside filters graph_id and (for GRAPH ?g)
        binds the graph var, so a BGP's natural joins keep one
        solution's triples in a single named graph with no extra
        operator. The reference declares Graph but never executes it
        (calc_data_types.rs:117-205)."""
        prev, self._graph_ctx = self._graph_ctx, op.name
        try:
            return self.compile(op.input)
        finally:
            self._graph_ctx = prev

    def _c_service(self, op) -> DataFrame:
        """SERVICE [SILENT] iri { body }: compile the body against the
        dataset registered under the IRI, swapping the scan source and
        the per-predicate stats for the duration — joins inside the
        body get estimates from the SERVICE dataset, not ours. The
        reference declares Service in its IR but panics on every
        non-label IRI (interpreter.rs:655-659). Federation here is
        in-plan (the "remote" dataset is a registered DataFrame — a
        parquet path, another engine's statements, a JDBC source), so
        Catalyst still sees one plan and can broadcast either side of
        the service join."""
        src = self.services.get(op.iri)
        if src is None:
            allowed = self.remote_allowed is True or (
                isinstance(self.remote_allowed, frozenset)
                and op.iri in self.remote_allowed
            )
            if op.remote_query is not None and allowed:
                # Real HTTP federation (beyond the reference, which
                # panics here): POST the captured body to the endpoint
                # and land the bindings as an inline table — same
                # driver-side shape as VALUES, so Catalyst broadcasts
                # it into the outer join. Registered IRIs take
                # precedence (tests / air-gapped deployments).
                from . import federation

                self.used_remote_service = True
                try:
                    variables, rows = federation.fetch_service_solutions(
                        op.iri, op.remote_query
                    )
                except federation.FederationError:
                    if op.silent:
                        return self._remember(self.spark.range(1).select(), [])
                    raise
                return self._c_values(Values(tuple(variables), tuple(rows)))
            if op.silent:
                # SPARQL 1.1 Federated Query §2.3: failure under SILENT
                # is the unit solution — one row, nothing bound (the
                # join identity), NOT the empty solution set
                return self._remember(self.spark.range(1).select(), [])
            raise KeyError(
                f"SERVICE {op.iri} is not registered; use "
                "GraphEngine.register_service(iri, statements_df) or, "
                "for live HTTP endpoints, "
                "GraphEngine.allow_remote_services(...)"
            )
        # an outer GRAPH scope does not reach into the service (the
        # remote dataset has its own graphs); body-level GRAPH works
        prev = (self.statements, self._pred_stats, self._graph_ctx, self._dataset_ctx)
        self.statements = src
        self._pred_stats = self._svc_stats.get(op.iri)
        self._graph_ctx = None
        self._dataset_ctx = None
        try:
            return self.compile(op.input)
        finally:
            self._svc_stats[op.iri] = self._pred_stats
            (
                self.statements,
                self._pred_stats,
                self._graph_ctx,
                self._dataset_ctx,
            ) = prev

    def _c_join(self, op: Join) -> DataFrame:
        from .algebra import certain_vars, pattern_vars

        # VALUES blocks containing UNDEF need SPARQL compatibility-join
        # semantics (unbound matches anything) — a plain equality join
        # would drop the NULL keys. The pattern-group fast path is only
        # sound when the OTHER side certainly binds every shared var;
        # otherwise (e.g. OPTIONAL then VALUES with UNDEF) a NULL-bound
        # df row must merge per §8.3.1, so take the general compat path.
        for vop, other in ((op.right, op.left), (op.left, op.right)):
            if isinstance(vop, Values) and any(None in r for r in vop.rows):
                sure = certain_vars(other)
                shared_v = set(vop.variables) & pattern_vars(other)
                if all(v in sure for v in shared_v):
                    return self._join_values(self.compile(other), vop)
                left, right = self.compile(other), self.compile(vop)
                shared = [c for c in self._cols(left) if c in self._cols(right)]
                return self._compat_join(left, right, shared, other, vop)
        left, right = self.compile(op.left), self.compile(op.right)
        shared = [c for c in self._cols(left) if c in self._cols(right)]
        sure_l, sure_r = certain_vars(op.left), certain_vars(op.right)
        if any(c not in sure_l or c not in sure_r for c in shared):
            # §8.3.1 compatibility join: an OPTIONAL/UNION-unbound
            # shared var merges with anything (same machinery as MINUS)
            return self._compat_join(left, right, shared, op.left, op.right)
        return self._natural_join(
            left,
            right,
            l_est=self._est_op(op.left),
            r_est=self._est_op(op.right),
        )

    #: max (left-mask x right-mask) pairs a statically over-approximated
    #: compat join may expand to before we prefer exact data enumeration
    COMPAT_PAIR_CAP = 9

    def _shared_masks(self, op, df: DataFrame, shared: list[str]) -> list[tuple[bool, ...]]:
        """Possible null-masks over ``shared`` for the solutions of
        ``op`` (True = unbound). Static when the algebra determines
        them (binding_masks), else a 2^|maybe-unbound| over-
        approximation from certain/pattern vars — both action-free; the
        plan-time data enumeration (a Spark job inside compile()) only
        remains as the last resort for unknown algebra shapes."""
        from .algebra import binding_masks, certain_vars, pattern_vars

        if op is not None:
            bm = binding_masks(op)
            if bm is not None:
                return sorted({tuple(v not in b for v in shared) for b in bm})
            sure, poss = certain_vars(op), pattern_vars(op)
            opts = [
                (False,) if v in sure else ((True,) if v not in poss else (False, True))
                for v in shared
            ]
            combos = [tuple(t) for t in _iproduct(*opts)]
            if len(combos) <= 16:
                return combos
        rows = (
            df.select(*[F.col(c).isNull().alias(c) for c in shared])
            .distinct()
            .collect()
        )
        return [tuple(bool(r[c]) for c in shared) for r in rows]

    def _compat_join(
        self,
        left: DataFrame,
        right: DataFrame,
        shared: list[str],
        lop=None,
        rop=None,
    ) -> DataFrame:
        """Inner join under SPARQL compatibility (§8.3.1) when a shared
        var can be unbound: group both sides by their null-mask over
        the shared vars; each (left-mask, right-mask) pair equality-
        joins on the vars bound in BOTH (cross join when none) and the
        merged solution takes the bound side of every shared var
        (coalesce). Masks come from static algebra analysis
        (_shared_masks) — extra statically-possible masks only add
        branches that filter to empty; pair count is tiny in practice
        (1-2 masks per side)."""
        from itertools import product

        lcols, rcols = self._cols(left), self._cols(right)
        out_cols = lcols + [c for c in rcols if c not in shared]

        lmasks = self._shared_masks(lop, left, shared)
        rmasks = self._shared_masks(rop, right, shared)
        if len(lmasks) * len(rmasks) > self.COMPAT_PAIR_CAP:
            # over-approximation too wide: pay the two plan-time jobs
            # for the exact (typically 1-2 per side) runtime masks
            lmasks = self._shared_masks(None, left, shared)
            rmasks = self._shared_masks(None, right, shared)

        def mask_filter(mask) -> Column:
            cond = F.lit(True)
            for c, is_null in zip(shared, mask):
                cond = cond & (F.col(c).isNull() if is_null else F.col(c).isNotNull())
            return cond

        r2 = right
        for c in rcols:
            r2 = r2.withColumnRenamed(c, "__r_" + c)
        self._remember(r2, ["__r_" + c for c in rcols])

        parts = []
        for lm, rm in product(lmasks, rmasks):
            lpart = self._remember(left.filter(mask_filter(lm)), lcols)
            rcond = F.lit(True)
            for c, is_null in zip(shared, rm):
                col = F.col("__r_" + c)
                rcond = rcond & (col.isNull() if is_null else col.isNotNull())
            rpart = self._remember(r2.filter(rcond), ["__r_" + c for c in rcols])
            common = [
                c for c, ln, rn in zip(shared, lm, rm) if not ln and not rn
            ]
            if common:
                cond = F.lit(True)
                for c in common:
                    cond = cond & (lpart[c] == rpart["__r_" + c])
                joined = lpart.join(rpart, cond, "inner")
            else:
                joined = lpart.crossJoin(rpart)
            merged = [
                (
                    F.coalesce(joined[c], joined["__r_" + c]).alias(c)
                    if c in shared
                    else joined[c].alias(c)
                )
                for c in lcols
            ]
            merged += [
                joined["__r_" + c].alias(c) for c in rcols if c not in shared
            ]
            parts.append(self._remember(joined.select(*merged), out_cols))
        if not parts:  # one side is empty: empty result, joined shape
            return self._natural_join(left.limit(0), right.limit(0))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._remember(out, out_cols)

    def _compat_leftjoin(
        self,
        left: DataFrame,
        right: DataFrame,
        shared: list[str],
        expr,
        lop=None,
        rop=None,
    ) -> DataFrame:
        """LeftJoin (OPTIONAL) under compatibility semantics when a
        shared var can be unbound: merged rows come from the pairwise
        mask-group join (expr folded into each pair's condition);
        left rows compatible with NO right row (under expr) survive
        once per input row with the right-only columns unbound. Row
        identity for the unmatched set is the serialized left row —
        duplicate left rows match or miss together, so multiset
        semantics are preserved. Masks are static (_shared_masks)."""
        from itertools import product

        lcols, rcols = self._cols(left), self._cols(right)
        out_cols = lcols + [c for c in rcols if c not in shared]

        lmasks = self._shared_masks(lop, left, shared)
        rmasks = self._shared_masks(rop, right, shared)
        if len(lmasks) * len(rmasks) > self.COMPAT_PAIR_CAP:
            lmasks = self._shared_masks(None, left, shared)
            rmasks = self._shared_masks(None, right, shared)

        lk = self._remember(
            left.withColumn("__lk", F.to_json(F.struct(*[left[c] for c in lcols]))),
            lcols + ["__lk"],
        )
        r2 = right
        for c in rcols:
            r2 = r2.withColumnRenamed(c, "__r_" + c)
        self._remember(r2, ["__r_" + c for c in rcols])

        parts = []
        for lm, rm in product(lmasks, rmasks):
            lcond, rcond = F.lit(True), F.lit(True)
            for c, lnull in zip(shared, lm):
                lcond = lcond & (F.col(c).isNull() if lnull else F.col(c).isNotNull())
            for c, rnull in zip(shared, rm):
                col = F.col("__r_" + c)
                rcond = rcond & (col.isNull() if rnull else col.isNotNull())
            lpart = self._remember(lk.filter(lcond), lcols + ["__lk"])
            rpart = self._remember(r2.filter(rcond), ["__r_" + c for c in rcols])
            bound_l = {c for c, n in zip(shared, lm) if not n}
            bound_r = {c for c, n in zip(shared, rm) if not n}
            cond = F.lit(True)
            for c in bound_l & bound_r:
                cond = cond & (lpart[c] == rpart["__r_" + c])
            if expr is not None:
                # per-pair masks pin which side binds each var, so the
                # merged value of a shared var is deterministic here
                def resolve(name: str, _l=lpart, _r=rpart, _bl=bound_l, _br=bound_r):
                    if name in shared:
                        if name in _bl:
                            return _l[name]
                        if name in _br:
                            return _r["__r_" + name]
                        return F.lit(None).cast(TERM_T)
                    if name in lcols:
                        return _l[name]
                    if name in rcols:
                        return _r["__r_" + name]
                    return F.lit(None).cast(TERM_T)

                ec = ExprCompiler(lpart, resolve=resolve, colset=lcols)
                cond = cond & F.coalesce(ebv(ec.col(expr)), F.lit(False))
            joined = lpart.join(rpart, cond, "inner")
            merged = [joined["__lk"].alias("__lk")]
            for c in lcols:
                if c in shared:
                    merged.append(
                        F.coalesce(joined[c], joined["__r_" + c]).alias(c)
                    )
                else:
                    merged.append(joined[c].alias(c))
            merged += [
                joined["__r_" + c].alias(c) for c in rcols if c not in shared
            ]
            parts.append(
                self._remember(joined.select(*merged), ["__lk"] + out_cols)
            )

        if not parts:  # right side empty: every left row survives,
            # padded by the outer join itself (no matches possible) —
            # also gets the right-only column TYPES right for free
            return self._natural_join(left, right.limit(0), "left_outer")
        matched = parts[0]
        for p in parts[1:]:
            matched = matched.unionByName(p)
        matched = self._remember(matched, ["__lk"] + out_cols)
        matched_keys = matched.select("__lk").distinct()
        unmatched = self._remember(
            lk.join(matched_keys, on="__lk", how="left_anti").select(*lcols), lcols
        )
        # allowMissingColumns pads the right-only columns with NULLs of
        # the matched side's types (term structs in the engine, but any
        # column type works)
        out = matched.drop("__lk").unionByName(unmatched, allowMissingColumns=True)
        return self._remember(out, out_cols)

    def _join_values(self, df: DataFrame, vop: Values) -> DataFrame:
        """Join solutions with an inline table containing UNDEF cells:
        rows are grouped by their binding pattern (which vars are
        bound); each group is a plain hash join on its bound columns,
        groups union. Group count <= row count, so every join stays
        hash-based — no nullable-OR join conditions."""
        from collections import defaultdict

        groups: dict[tuple[int, ...], list] = defaultdict(list)
        for row in vop.rows:
            mask = tuple(i for i, t in enumerate(row) if t is not None)
            groups[mask].append(row)
        dfcols = self._cols(df)
        allcols = list(dict.fromkeys(dfcols + list(vop.variables)))
        parts = []
        for mask, rows in groups.items():
            bound = [vop.variables[i] for i in mask]
            vdf = self._c_values(
                Values(tuple(bound), tuple(tuple(r[i] for i in mask) for r in rows))
            )
            shared = [v for v in bound if v in dfcols]
            part = df.join(vdf, on=shared, how="inner") if shared else df.crossJoin(vdf)
            part_cols = dfcols + [v for v in bound if v not in dfcols]
            for c in allcols:
                if c not in part_cols:
                    part = part.withColumn(c, F.lit(None).cast(TERM_T))
            parts.append(part.select(*allcols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._remember(out, allcols)

    def _c_lateraljoin(self, op: LateralJoin) -> DataFrame:
        # executed as inner join, like the reference (calc_engine.rs:194-201)
        return self._natural_join(
            self.compile(op.left),
            self.compile(op.right),
            l_est=self._est_op(op.left),
            r_est=self._est_op(op.right),
        )

    def _c_leftjoin(self, op: LeftJoin) -> DataFrame:
        left, right = self.compile(op.left), self.compile(op.right)
        lcols, rcols = self._cols(left), self._cols(right)
        shared = [c for c in lcols if c in rcols]
        from .algebra import certain_vars

        sure_l, sure_r = certain_vars(op.left), certain_vars(op.right)
        if any(c not in sure_l or c not in sure_r for c in shared):
            # OPTIONAL under compatibility semantics (nested OPTIONALs /
            # UNION arms sharing a var): unbound shared vars merge
            return self._compat_leftjoin(
                left, right, shared, op.expr, op.left, op.right
            )
        if op.expr is None:
            return self._natural_join(
                left, right, "left_outer", r_est=self._est_op(op.right)
            )
        # SPARQL-correct: the filter expression belongs to the join
        # condition (the reference instead pre-filters the left input —
        # calc_engine.rs:176-190 — a simplification we do not copy).
        r2 = right
        for c in rcols:
            r2 = r2.withColumnRenamed(c, "__r_" + c)
        lset, r2set = set(lcols), {"__r_" + c for c in rcols}

        def resolve(name: str) -> Column:
            if name in lset:
                return left[name]
            if "__r_" + name in r2set:
                return r2["__r_" + name]
            return F.lit(None).cast(TERM_T)

        ec = ExprCompiler(left, resolve=resolve, colset=lcols)
        cond = F.coalesce(ebv(ec.col(op.expr)), F.lit(False))
        for c in shared:
            cond = cond & (left[c] == r2["__r_" + c])
        if self._est_op(op.right) <= self.BROADCAST_ROWS:
            r2 = F.broadcast(r2)
        joined = left.join(r2, cond, "left_outer")
        out = [joined[c].alias(c) for c in lcols]
        out += [joined["__r_" + c].alias(c) for c in rcols if c not in shared]
        return self._remember(
            joined.select(*out), lcols + [c for c in rcols if c not in shared]
        )

    def _c_filter(self, op: Filter) -> DataFrame:
        df = self.compile(op.input)
        expr = op.expr
        # FILTER EXISTS / NOT EXISTS -> semi/anti join on shared vars
        if isinstance(expr, EExists):
            sub = self.compile(expr.plan)
            shared = [c for c in self._cols(df) if c in self._cols(sub)]
            how = "left_anti" if expr.negated else "left_semi"
            if not shared:
                cnt = sub.limit(1).count()
                nonempty = cnt > 0
                keep = (not expr.negated) == nonempty
                return df if keep else self._remember(df.limit(0), self._cols(df))
            # no distinct() on the right: semi/anti joins never
            # duplicate left rows, and the dedup costs two exchanges
            return self._keyed_join(df, sub.select(*shared), shared, how)
        keep = self._cols(df)
        df, markers = self._bind_exists_markers(df, [expr])
        ec = self._expr_compiler(df, markers, bind=True)
        cond = ec.boolean(expr)
        df = self._apply_bindings(df, ec)
        return self._remember(df.filter(cond).select(*keep), keep)

    def _c_union(self, op: Union) -> DataFrame:
        left, right = self.compile(op.left), self.compile(op.right)
        lcols, rcols = self._cols(left), self._cols(right)
        allcols = list(dict.fromkeys(lcols + rcols))

        def pad(df: DataFrame, cols: list[str]) -> DataFrame:
            for c in allcols:
                if c not in cols:
                    df = df.withColumn(c, F.lit(None).cast(TERM_T))
            return df.select(*allcols)

        return self._remember(
            pad(left, lcols).unionByName(pad(right, rcols)), allcols
        )

    def _c_extend(self, op: Extend) -> DataFrame:
        df = self.compile(op.input)
        keep = self._cols(df)
        df, markers = self._bind_exists_markers(df, [op.expr])
        ec = self._expr_compiler(df, markers, bind=True)
        val = ec.col(op.expr)
        df = self._apply_bindings(df, ec)
        return self._remember(
            df.withColumn(op.var, val).select(*keep, op.var),
            keep + [op.var],
        )

    def _c_minus(self, op: Minus) -> DataFrame:
        """SPARQL MINUS (§8.3.3): drop μ when some μ' on the right is
        COMPATIBLE (agrees on vars bound in BOTH) with a non-empty
        domain intersection. When every shared var is certainly bound
        on both sides (the common case — static analysis), that is a
        plain anti-join. Otherwise (OPTIONAL/UNION/UNDEF can leave a
        shared var unbound) an unbound var is "don't care", NOT an
        equality key: group each side by its null-mask over the shared
        vars and anti-join every (left-mask, right-mask) pair on the
        vars bound in both — masks from static algebra analysis
        (_shared_masks; mask count <= 2^shared, in practice 1-2 per
        side). The reference's Minus is todo! (calc_engine.rs) — the
        spec is the only semantics to match."""
        left, right = self.compile(op.left), self.compile(op.right)
        lcols = self._cols(left)
        shared = [c for c in lcols if c in self._cols(right)]
        if not shared:
            return left  # disjoint domains remove nothing
        from .algebra import certain_vars

        sure_l, sure_r = certain_vars(op.left), certain_vars(op.right)
        if all(c in sure_l and c in sure_r for c in shared):
            return self._keyed_join(left, right.select(*shared), shared, "left_anti")

        rshared = self._remember(right.select(*shared), shared)

        def mask_filter(df, mask) -> Column:
            cond = F.lit(True)
            for c, is_null in zip(shared, mask):
                cond = cond & (F.col(c).isNull() if is_null else F.col(c).isNotNull())
            return cond

        lmasks = self._shared_masks(op.left, left, shared)
        rmasks = self._shared_masks(op.right, rshared, shared)
        if len(lmasks) * len(rmasks) > self.COMPAT_PAIR_CAP:
            lmasks = self._shared_masks(None, left, shared)
            rmasks = self._shared_masks(None, rshared, shared)
        parts = []
        for lm in lmasks:
            lpart = self._remember(left.filter(mask_filter(left, lm)), lcols)
            kept = lpart
            for rm in rmasks:
                common = [
                    c
                    for c, lnull, rnull in zip(shared, lm, rm)
                    if not lnull and not rnull
                ]
                if not common:
                    continue  # empty domain intersection removes nothing
                rpart = self._remember(
                    rshared.filter(mask_filter(rshared, rm)).select(*common), common
                )
                kept = self._keyed_join(kept, rpart, common, "left_anti")
            parts.append(kept)
        if not parts:
            return left  # left is empty
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return self._remember(out, lcols)

    def _keyed_join(self, left: DataFrame, right: DataFrame, keys: list[str], how: str) -> DataFrame:
        """Semi/anti join on *serialized* term keys.

        Joining on the raw term structs trips a Catalyst bug: nested-
        column aliasing pushes a downstream field extraction below the
        join while the join key still needs the whole struct
        (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at BindReferences). Flat
        string keys also hash/compare cheaper than 12-field structs at
        shuffle time. `=` on a NULL key never matches — same as the
        struct-equality semantics this replaces."""
        lk = left.withColumn("__kj", F.to_json(F.struct(*[left[k] for k in keys])))
        rk = right.select(
            F.to_json(F.struct(*[right[k] for k in keys])).alias("__kj")
        )
        return self._remember(
            lk.join(rk, on="__kj", how=how).drop("__kj"), self._cols(left)
        )

    def _c_values(self, op: Values) -> DataFrame:
        if not op.rows:  # empty inline table (also: GRAPH over a
            # default-graph-only store) -> zero solutions
            return self._remember(
                self.spark.range(0).select(
                    *[F.lit(None).cast(TERM_T).alias(v) for v in op.variables]
                ),
                list(op.variables),
            )
        if len(op.rows) > 32:
            # Large inline tables (HTTP SERVICE federation results land
            # here) would make the per-row literal-union path below
            # build thousands of plan nodes; ship them as one local
            # relation instead. Python Terms carry only the 8 scalar
            # struct fields (never time/qty/coord), so the tuple shape
            # is fixed.
            schema = ", ".join(f"`{v}` {TERM_T}" for v in op.variables)
            data = [
                tuple(
                    None
                    if t is None or t.t == "null"
                    else (t.t, t.k, t.e, t.s, t.lang, t.i, t.d, t.b, None, None, None)
                    for t in row
                )
                for row in op.rows
            ]
            return self._remember(
                self.spark.createDataFrame(data, schema), list(op.variables)
            )
        rows = []
        for row in op.rows:
            cols = []
            for var, term in zip(op.variables, row):
                cols.append(
                    (F.lit(None).cast(TERM_T) if term is None else lit_term(term)).alias(var)
                )
            rows.append(self.spark.range(1).select(*cols))
        out = rows[0]
        for r in rows[1:]:
            out = out.unionByName(r)
        return self._remember(out, list(op.variables))

    def _c_orderby(self, op: OrderBy) -> DataFrame:
        df = self.compile(op.input)
        df, markers = self._bind_exists_markers(df, [k for k, _ in op.keys])
        ec = self._expr_compiler(df, markers, bind=True)
        # output columns are fixed BEFORE let-bindings materialize:
        # _apply_bindings adds internal __xN columns that must never
        # reach a SELECT * / DISTINCT result (only EXISTS markers are
        # already on df at this point — exclude them by prefix)
        out_cols = [c for c in self._cols(df) if not c.startswith("__ex")]
        keys = []
        for expr, asc in op.keys:
            k = sort_key(ec.col(expr))
            keys.append(k.asc() if asc else k.desc())
        df = self._apply_bindings(df, ec)
        return self._remember(df.orderBy(*keys).select(*out_cols), out_cols)

    def _c_project(self, op: Project) -> DataFrame:
        df = self.compile(op.input)
        have = set(self._cols(df))
        cols = [
            df[v].alias(v) if v in have else F.lit(None).cast(TERM_T).alias(v)
            for v in op.variables
        ]
        return self._remember(df.select(*cols), list(op.variables))

    def _c_distinct(self, op: Distinct) -> DataFrame:
        df = self.compile(op.input)
        return self._remember(df.distinct(), self._cols(df))

    def _c_reduced(self, op: Reduced) -> DataFrame:
        # REDUCED permits (does not require) dedup; distinct is legal
        # (the reference's Reduced is todo!, calc_engine.rs:315-319)
        df = self.compile(op.input)
        return self._remember(df.distinct(), self._cols(df))

    def _c_slice(self, op: Slice) -> DataFrame:
        df = self.compile(op.input)
        cols = self._cols(df)
        if op.start:
            df = df.offset(op.start)
        if op.length is not None:
            df = df.limit(op.length)
        return self._remember(df, cols)

    @staticmethod
    def _shared_col(pre: list[tuple[str, Column]], col: Column) -> Column:
        """Register ``col`` as a pre-aggregation projection (applied by
        _c_group via withColumn) and return a reference to it, reusing
        an identical registration — so MIN and MAX over the same
        expression evaluate the term sort_key CASE once per row
        instead of once per aggregate (VERDICT r07 #5: the agg-suite
        SortAggregate spends its time in per-row ordering-key
        evaluation)."""
        key = str(col)
        for name, c in pre:
            if str(c) == key:
                return F.col(name)
        name = f"__aggk{len(pre)}"
        pre.append((name, col))
        return F.col(name)

    def _agg_column(
        self, spec: AggSpec, ec: ExprCompiler, pre: list[tuple[str, Column]]
    ) -> Column:
        from ..model.schema import make_term

        from ..model.schema import TERM_T

        e = ec.col(spec.expr) if spec.expr is not None else None
        f = spec.func
        err = F.lit(None).cast(TERM_T)
        # §18.5.1.2 ListEval "retains errors": one errored/unbound
        # element makes Sum/Avg/Min/Max/GroupConcat error -> the
        # aggregate variable is UNBOUND for that group. The reference
        # instead skips unusable elements (calc_engine.rs:507-585
        # `_ => ()` arms; partial_cmp None => () in Min/Max) — the SQL
        # NULL-skipping reading, deliberately fixed to spec here
        # (tests/test_spec_conformance_r8_agg.py).
        if f == "count":
            if e is None:
                c = F.count(F.lit(1))
            elif spec.distinct:
                c = F.count_distinct(e)
            else:
                c = F.count(e)  # non-error elements (WG errata reading)
            return make_term(t="int", i=c).alias(spec.var)
        if f == "sum":
            v = self._shared_col(pre, num(e))
            bad = F.max(v.isNull().cast("int")) == 1
            anyd = F.max((e["t"] == "double").cast("int")) == 1
            if spec.distinct:
                sd, si = F.sum_distinct(v), F.sum_distinct(e["i"])
            else:
                # try_sum: xsd:integer overflow is an ERROR, not a wrap
                sd, si = F.sum(v), F.try_sum(e["i"])
            c = (
                # Sum({}) = 0 (§18.5.1.5; only the global group can be empty)
                F.when(F.count(F.lit(1)) == 0, make_term(t="int", i=F.lit(0)))
                .when(bad, err)
                # op:numeric-add promotion: all-int stays integer
                .when(anyd, make_term(t="double", d=sd))
                .when(si.isNotNull(), make_term(t="int", i=si))
                # implicit NULL: int overflow under try_sum
            )
            return c.alias(spec.var)
        if f == "avg":
            v = self._shared_col(pre, num(e))
            bad = F.max(v.isNull().cast("int")) == 1
            a = F.avg(v)  # AVG DISTINCT: mean over distinct numeric values
            if spec.distinct:
                a = F.sum_distinct(v) / F.count_distinct(v)
            c = (
                # Avg({}) = 0 per §18.5.1.6 (an xsd:integer zero)
                F.when(F.count(F.lit(1)) == 0, make_term(t="int", i=F.lit(0)))
                .when(bad, err)
                # double, not decimal: declared deviation (no decimal
                # branch in TERM_T)
                .otherwise(make_term(t="double", d=a))
            )
            return c.alias(spec.var)
        if f in ("min", "max"):
            # cross-type groups stay defined under the documented
            # total-order deviation (sort_key); only errored/unbound
            # ELEMENTS poison the aggregate (fn:min over error -> error)
            bad = F.max(e.isNull().cast("int")) == 1
            pick = F.min_by if f == "min" else F.max_by
            c = pick(e, self._shared_col(pre, sort_key(e)))
            return F.when(bad, err).otherwise(c).alias(spec.var)
        if f == "group_concat":
            r = self._shared_col(pre, render(e))
            bad = F.max(r.isNull().cast("int")) == 1
            lst = F.collect_set(r) if spec.distinct else F.collect_list(r)
            # sorted for determinism (the reference concatenates in row
            # order, which is only defined single-threaded); empty
            # global group falls through the NULL `bad` to "" (§18.5.1.7)
            return (
                F.when(bad, err)
                .otherwise(
                    make_term(
                        t="str",
                        k="string",
                        s=F.array_join(F.array_sort(lst), spec.separator),
                    )
                )
                .alias(spec.var)
            )
        if f == "sample":
            return F.first(e, ignorenulls=True).alias(spec.var)
        from .expressions import CUSTOM_AGGREGATES, str_val

        if f in CUSTOM_AGGREGATES:
            fn, kind = CUSTOM_AGGREGATES[f]
            if kind == "numeric":
                return make_term(t="double", d=fn(num(e))).alias(spec.var)
            if kind == "int":
                return make_term(t="int", i=fn(num(e))).alias(spec.var)
            if kind == "string":
                return make_term(t="str", k="string", s=fn(str_val(e))).alias(spec.var)
            return fn(e).alias(spec.var)  # 'term': raw structs through
        if "://" in f:
            raise NotImplementedError(
                f"custom aggregate <{f}> is not registered — use "
                "GraphEngine.register_aggregate(iri, fn) to provide it"
            )
        raise NotImplementedError(f"aggregate {f}")

    def _c_group(self, op: Group) -> DataFrame:
        df = self.compile(op.input)
        # bind=True: aggregate INPUT expressions become pre-projected
        # columns. Without it a nested arithmetic argument (SUM(?ep *
        # (1 - ?disc))) compiles to one unshared tree whose operand
        # subtrees are referenced ~5x per arithmetic level — measured
        # 3.5x on sparql_tpch_q1's SUMs after the round-8 typed-
        # arithmetic rewrite. Binding keeps each level a column ref.
        ec = self._expr_compiler(df, bind=True)
        pre: list[tuple[str, Column]] = []
        aggs = [self._agg_column(s, ec, pre) for s in op.aggregates]
        df = self._apply_bindings(df, ec)
        for name, col in pre:
            df = df.withColumn(name, col)
        agg_vars = [s.var for s in op.aggregates]
        if not op.group_vars:
            if not aggs:
                return self._remember(df.limit(1).select(), [])
            return self._remember(df.agg(*aggs), agg_vars)
        gcols = [df[v] for v in op.group_vars]
        if not aggs:
            return self._remember(
                df.groupBy(*gcols).agg(F.count(F.lit(1)).alias("__n")).drop("__n"),
                list(op.group_vars),
            )
        return self._remember(
            df.groupBy(*gcols).agg(*aggs), list(op.group_vars) + agg_vars
        )

    def _c_pathpattern(self, op: PathPattern) -> DataFrame:
        from .paths import compile_path

        return compile_path(self, op)

    def _c_construct(self, op) -> DataFrame:
        """Template instantiation: one select per template triple over
        the solution set, unioned; incomplete triples dropped and the
        graph deduplicated (SPARQL 1.1 §16.2)."""
        sols = self.compile(op.input)
        parts = []
        for tp in op.template:
            cols = []
            skip = False
            for pos, x in (("subject", tp.s), ("predicate", tp.p), ("object", tp.o)):
                if isinstance(x, Var):
                    if x.name not in sols.columns:
                        skip = True
                        break
                    cols.append(F.col(x.name).alias(pos))
                else:
                    cols.append(lit_term(x).alias(pos))
            if not skip:
                parts.append(sols.select(*cols))
        if not parts:
            return self.spark.range(0).select(
                *[F.lit(None).cast(TERM_T).alias(c) for c in ("subject", "predicate", "object")]
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.filter(
            F.col("subject").isNotNull()
            & F.col("predicate").isNotNull()
            & F.col("object").isNotNull()
        )
        return out.dropDuplicates(["subject", "predicate", "object"])

    def _c_describe(self, op) -> DataFrame:
        """All statements about the described nodes: scan the full
        graph as (subject, predicate, object) and semi-join the subject
        against the node set on flat entity keys."""
        spo = scan_pattern(
            self.statements,
            TriplePattern(Var("subject"), Var("predicate"), Var("object")),
            dataset=self._dataset_ctx,
        )
        node_sets = []
        for t in op.nodes:
            node_sets.append(
                self.spark.range(1).select(
                    F.lit(t.k).alias("__nk"), F.lit(t.e).cast("long").alias("__ne")
                )
            )
        if op.variables:
            if op.input is None:
                raise ValueError("DESCRIBE ?var requires a WHERE pattern")
            sols = self.compile(op.input)
            for v in op.variables:
                if v in sols.columns:
                    node_sets.append(
                        sols.filter(F.col(v)["t"] == "entity").select(
                            F.col(v)["k"].alias("__nk"), F.col(v)["e"].alias("__ne")
                        )
                    )
        nodes = node_sets[0]
        for n in node_sets[1:]:
            nodes = nodes.unionByName(n)
        keyed = spo.withColumn("__sk", F.col("subject")["k"]).withColumn(
            "__se", F.col("subject")["e"]
        )
        out = keyed.join(
            nodes.withColumnRenamed("__nk", "__sk").withColumnRenamed("__ne", "__se").distinct(),
            on=["__sk", "__se"],
            how="left_semi",
        )
        return out.drop("__sk", "__se")

    def _c_labelservice(self, op) -> DataFrame:
        """wikibase:label service: each target var becomes a left join
        against the term edges with language-priority fallback — the
        set-based form of the reference's per-row getLabel/getAlias/
        getDescription point lookups (calc_engine.rs:2685-2908): first
        language in the requested list that has a term wins; no term in
        any requested language -> NULL (the reference returns Null)."""
        df = self.compile(op.input)
        for new_var, base, kind in op.targets:
            bk, be, cond, term = self._label_cols(base)
            df = (
                df.withColumn("__bk", bk)
                .withColumn("__be", be)
                .join(self._label_table(op.langs, kind), cond, "left")
                .withColumn(new_var, term)
                .drop("__bk", "__be", "__tk", "__te", "__tv")
            )
        return df

    def _label_cols(self, base: str) -> tuple:
        """(subject key, entity id, join condition, label term) of a
        label join on ``base``. They name columns only, so every label
        request reuses them. The flat key columns are materialized
        before the join: struct-field extraction inside join conditions
        trips nested-pruning bugs (see _keyed_join)."""
        got = self._label_join_cols.get(base)
        if got is None:
            got = (
                F.col(base)["k"],
                F.col(base)["e"],
                (F.col("__bk") == F.col("__tk")) & (F.col("__be") == F.col("__te")),
                F.when(
                    F.col("__tv").isNotNull(),
                    make_term(t="str", k="string", s=F.col("__tv")),
                ),
            )
            if len(self._label_join_cols) < 256:  # bounded: names come from clients
                self._label_join_cols[base] = got
        return got

    def _label_table(self, langs: tuple, kind: str) -> DataFrame:
        """(__tk, __te, __tv): each subject's best term of ``kind`` in
        the first of ``langs`` that has one. On the engine's own
        default graph the table is built once per (langs, kind) and
        kept checkpointed (localCheckpoint: its blocks are freed with
        the DataFrame, where persist() pins them until an unpersist);
        under a FROM dataset or inside a SERVICE it is built per
        query."""
        from pyspark.sql.window import Window

        # the label lookup scans the DEFAULT graph: under a FROM
        # dataset that is the merged (set-union) graph — same collapse
        # as scan_pattern, so an alias edge present in two FROM graphs
        # concatenates once, not twice
        src = self.statements
        merged = self._dataset_ctx is not None and self._dataset_ctx[0] is not None
        shared = src is self._engine_statements and not merged
        if shared:
            got = self._label_tables.get((langs, kind))
            if got is not None:
                return got
        if "graph_id" in self._cols(src):
            if merged:
                from .scan import merged_default_graph

                src = merged_default_graph(src, self._dataset_ctx[0])
                gdefault = F.lit(True)
            else:
                gdefault = F.col("graph_id").isNull()
        else:
            gdefault = F.lit(True)
        terms = (
            src.filter(
                (F.col("pred_kind") == kind)
                & F.col("pred_lang").isin(list(langs))
                & gdefault
            )
            .select(
                F.col("subject_kind").alias("__tk"),
                F.col("subject_id").alias("__te"),
                F.col("pred_lang").alias("__tl"),
                F.col("obj_string").alias("__tv"),
            )
        )
        if kind == "alias":
            # getAlias concatenates ALL aliases of the winning
            # language (calc_engine.rs:2892-2908); sorted for
            # distributed determinism
            terms = terms.groupBy("__tk", "__te", "__tl").agg(
                F.array_join(F.array_sort(F.collect_list("__tv")), ", ").alias("__tv")
            )
        prio = F.array_position(F.array(*[F.lit(x) for x in langs]), F.col("__tl"))
        w = Window.partitionBy("__tk", "__te").orderBy(prio, F.col("__tv"))
        best = (
            terms.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("__tk", "__te", "__tv")
        )
        if shared:
            best = best.localCheckpoint()
            if len(self._label_tables) >= 8:  # bounded: langs come from clients
                self._label_tables.pop(list(self._label_tables)[0], None)
            self._label_tables[(langs, kind)] = best
        return best
