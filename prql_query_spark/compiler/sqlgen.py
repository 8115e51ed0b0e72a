"""Resolver + SQL generation: PL AST -> layered SELECTs -> SQL text.

Design (SURVEY.md §7.0): instead of reproducing the reference compiler's
single-SELECT fusion (README.md:105-129 shows prql-compiler collapsing an
8-transform pipeline into one SELECT), we lower to *nested subquery layers*
and rely on Catalyst's CollapseProject / PushDownPredicate to fuse them —
performance-neutral on Spark, and far simpler to get right.

A `Layer` models one SELECT block.  Transforms merge into the current layer
when SQL clause ordering allows it, otherwise the layer is wrapped as a
subquery (`_wrap`).  Qualified column refs (``ii.quantity``) are stripped of
their qualifier once the alias scope is gone after a wrap — flattened
subqueries expose unqualified names (USING-joins dedup their key, matching
PRQL `[==col]` semantics, reference README.md:124).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from prql_query_spark.compiler import ast_nodes as A
from prql_query_spark.compiler.dialect import Dialect, get_dialect


class CompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Function tables.  Spelling is shared unless the dialect overrides (fn_sql).
# Arg order quirks of the PRQL std-lib are handled here (`lag 7 x` => LAG(x,7),
# `round 2 x` => ROUND(x, 2)).
AGG_FNS = {
    "sum": "SUM({0})", "min": "MIN({0})", "max": "MAX({0})",
    "average": "AVG({0})", "avg": "AVG({0})", "stddev": "STDDEV({0})",
    "count_distinct": "COUNT(DISTINCT {0})",
    "any": "MAX({0})", "every": "MIN({0})",
    # extensions beyond PRQL 0.6.1 (SURVEY §2.A.2 "available in Spark"):
    # arg order follows the std-lib pattern (`percentile 0.5 x`)
    "median": "MEDIAN({0})",
    "percentile": "PERCENTILE({1}, {0})",
    "approx_count_distinct": "APPROX_COUNT_DISTINCT({0})",
    # sketch-based percentile: the 100 TB path for quantiles (Spark:
    # single-pass KLL-style sketch, mergeable across partitions, vs the
    # exact form's full per-group value buffer).  approx == exact is NOT
    # guaranteed, so gate rows keep exact `percentile`; this spelling is
    # for production pipelines where the buffer is the bottleneck.
    # accuracy=1000 (not Spark's 10000 default): the sketch update is
    # the SLOPE term of this path (probe_approx_pct.py, sf1: 594 ms
    # sketch work over a 124 ms floor at 6M rows) and 1000 halves it
    # (718 -> 350 ms) while the measured value error stays <= 0.12% on
    # the gate fixtures — 17x headroom under the pinned 2% bracket
    # tolerance (rank-error bound 1/accuracy = 0.1%).
    "approx_percentile": "APPROX_PERCENTILE({1}, {0}, 1000)",
}
WINDOW_FNS = {
    "lag": "LAG({1}, {0})", "lead": "LEAD({1}, {0})",
    "rank": "RANK()", "row_number": "ROW_NUMBER()", "dense_rank": "DENSE_RANK()",
    "percent_rank": "PERCENT_RANK()", "cume_dist": "CUME_DIST()",
    "ntile": "NTILE({0})",
    "first": "FIRST_VALUE({1})", "last": "LAST_VALUE({1})",
}
# first/last in PRQL take 1 arg; normalize to templates above with dummy slot
SCALAR_FNS = {
    "abs": "ABS({0})",
    # floor/ceil: Spark returns BIGINT, DuckDB DOUBLE — pin both to DOUBLE
    # (the reference's engines return float64) so driver value-hashes agree.
    "floor": "CAST(FLOOR({0}) AS DOUBLE)", "ceil": "CAST(CEIL({0}) AS DOUBLE)",
    # round goes through exact DECIMAL so both engines apply the same
    # HALF_UP at the same digit: ROUND(double) diverges by one ulp between
    # Spark (BigDecimal of the shortest repr) and DuckDB (binary FP) when a
    # value sits on a .5*10^-n boundary — the one driver-red cell of round 1.
    # Same convention as the cents-exact averages (commit 22bc6e4).
    "round": "CAST(ROUND(CAST({1} AS DECIMAL(38,12)), {0}) AS DOUBLE)",
    "sqrt": "SQRT({0})", "ln": "LN({0})",
    "lower": "LOWER({0})", "upper": "UPPER({0})", "length": "LENGTH({0})",
    "trim": "TRIM({0})", "ltrim": "LTRIM({0})", "rtrim": "RTRIM({0})",
    "coalesce": "COALESCE({0}, {1})", "isnull": "({0} IS NULL)",
    "long": "CAST({0} AS BIGINT)", "int": "CAST({0} AS INT)",
    "double": "CAST({0} AS DOUBLE)", "string": "CAST({0} AS STRING)",
}

_RANKING = {"rank", "row_number", "dense_rank", "percent_rank", "cume_dist",
            "ntile", "lag", "lead"}


@dataclass
class WindowSpec:
    partition_by: list = field(default_factory=list)  # sql strings
    order_by: list = field(default_factory=list)      # sql strings (with dir)
    frame: tuple | None = None                        # ("rows"|"range", lo, hi)


@dataclass
class ExprCtx:
    """Emission context: how aggregate functions should be rendered."""
    mode: str = "plain"          # plain | aggregate | window
    window: WindowSpec | None = None


def _frame_sql(kind: str, lo, hi) -> str:
    def bound(v, side: str) -> str:
        if v is None:
            return f"UNBOUNDED {side}"
        if v == 0:
            return "CURRENT ROW"
        if v < 0:
            return f"{-v} PRECEDING"
        return f"{v} FOLLOWING"

    word = "ROWS" if kind == "rows" else "RANGE"
    return f"{word} BETWEEN {bound(lo, 'PRECEDING')} AND {bound(hi, 'FOLLOWING')}"


class Emitter:
    """Expression -> SQL for one dialect."""

    def __init__(self, d: Dialect, funcs: dict, aliases: set[str]):
        self.d = d
        self.funcs = funcs  # user FuncDefs (inlined at emission)
        self.aliases = aliases  # table aliases visible in current layer

    def ident(self, e: A.Ident) -> str:
        parts = e.parts
        if len(parts) > 1 and parts[0] not in self.aliases:
            # qualifier belongs to a flattened (wrapped) scope — strip it
            parts = parts[-1:]
        return ".".join(self.d.quote(p) for p in parts)

    def emit(self, e, ctx: ExprCtx, env: dict | None = None) -> str:
        env = env or {}
        if isinstance(e, A.Literal):
            return self._literal(e)
        if isinstance(e, A.Ident):
            if len(e.parts) == 1 and e.parts[0] in env:
                return self.emit(env[e.parts[0]], ctx, {})
            return self.ident(e)
        if isinstance(e, A.Binary):
            return self._binary(e, ctx, env)
        if isinstance(e, A.Unary):
            inner = self.emit(e.expr, ctx, env)
            return f"(- {inner})" if e.op == "-" else f"(NOT {inner})"
        if isinstance(e, A.FuncCall):
            return self._call(e, ctx, env)
        if isinstance(e, A.SString):
            raw = "".join(
                p if isinstance(p, str) else self.emit(p, ctx, env) for p in e.parts
            )
            return self.d.rewrite_raw(raw)
        if isinstance(e, A.FString):
            segs = []
            for p in e.parts:
                if isinstance(p, str):
                    segs.append(self._str_lit(p))
                else:
                    segs.append(self.emit(p, ctx, env))
            return "(" + " || ".join(segs) + ")"
        if isinstance(e, A.CaseExpr):
            out = ["CASE"]
            for cond, val in e.arms:
                v = self.emit(val, ctx, env)
                if cond is None:
                    out.append(f"ELSE {v}")
                else:
                    out.append(f"WHEN {self.emit(cond, ctx, env)} THEN {v}")
            out.append("END")
            return " ".join(out)
        if isinstance(e, A.RangeLit):
            raise CompileError("range literal outside take/in")
        raise CompileError(f"cannot emit {type(e).__name__}")

    def _literal(self, e: A.Literal) -> str:
        if e.kind == "null":
            return "NULL"
        if e.kind == "bool":
            return "TRUE" if e.value else "FALSE"
        if e.kind == "str":
            return self._str_lit(e.value)
        if e.kind == "date":
            return f"DATE '{e.value}'"
        if e.kind == "timestamp":
            return f"TIMESTAMP '{e.value}'"
        if e.kind == "time":
            return f"TIME '{e.value}'"
        if e.kind == "float":
            return repr(e.value)
        return str(e.value)

    def _str_lit(self, s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def _binary(self, e: A.Binary, ctx: ExprCtx, env: dict) -> str:
        # PRQL null equality is IS NULL, not 3VL `= NULL` (SURVEY.md §2.A #25)
        if e.op in ("==", "!=") and isinstance(e.right, A.Literal) and e.right.kind == "null":
            l = self.emit(e.left, ctx, env)
            return f"({l} IS NULL)" if e.op == "==" else f"({l} IS NOT NULL)"
        if e.op == "??":
            return f"COALESCE({self.emit(e.left, ctx, env)}, {self.emit(e.right, ctx, env)})"
        if e.op == "in" and isinstance(e.right, A.ListLit):
            l = self.emit(e.left, ctx, env)
            vals = ", ".join(self.emit(v, ctx, env) for v in e.right.items)
            return f"({l} IN ({vals}))"
        if e.op == "in" and isinstance(e.right, A.RangeLit):
            l = self.emit(e.left, ctx, env)
            lo = self.emit(e.right.start, ctx, env) if e.right.start else None
            hi = self.emit(e.right.end, ctx, env) if e.right.end else None
            if lo and hi:
                return f"({l} BETWEEN {lo} AND {hi})"
            if lo:
                return f"({l} >= {lo})"
            return f"({l} <= {hi})"
        if e.op == "~=":
            l, r = self.emit(e.left, ctx, env), self.emit(e.right, ctx, env)
            if self.d.name == "spark":
                return f"({l} RLIKE {r})"
            return f"regexp_matches({l}, {r})"
        op = {"==": "=", "!=": "<>", "and": "AND", "or": "OR"}.get(e.op, e.op)
        return f"({self.emit(e.left, ctx, env)} {op} {self.emit(e.right, ctx, env)})"

    def _call(self, e: A.FuncCall, ctx: ExprCtx, env: dict) -> str:
        name = e.name
        if name in self.funcs:  # user func: compile-time inlining (§2.A #19)
            fd = self.funcs[name]
            if len(e.args) != len(fd.params):
                raise CompileError(f"func {name} expects {len(fd.params)} args")
            sub = dict(zip(fd.params, e.args))
            return self.emit(fd.body, ctx, {**env, **sub})
        args = [self.emit(a, ctx, env) for a in e.args]
        if name == "count":
            core = f"COUNT({args[0]})" if args else "COUNT(*)"
            return self._maybe_window(core, False, ctx)
        custom = self.d.fn_sql(name, args)
        if custom is not None:
            return custom
        if name == "sum" and self._is_int_expr(e.args[0], env):
            # integer-typed SUM: let the dialect pin the result type
            # (DuckDB HUGEINT vs Spark BIGINT — see Dialect.int_sum_wrap).
            # The wrap goes around the whole windowed expression, not the
            # SUM core, so `sum ... OVER (...)` stays valid SQL.
            windowed = self._maybe_window(f"SUM({args[0]})", False, ctx)
            return self.d.int_sum_wrap.format(windowed)
        if name in AGG_FNS:
            core = AGG_FNS[name].format(*args)
            return self._maybe_window(core, False, ctx)
        if name in WINDOW_FNS:
            if name in ("first", "last") and len(args) == 1:
                args = ["", args[0]]
            core = WINDOW_FNS[name].format(*args)
            return self._maybe_window(core, True, ctx)
        if name in SCALAR_FNS:
            return SCALAR_FNS[name].format(*args)
        # unknown: pass through verbatim (the reference's effective scalar
        # surface is the backend's SQL library, SURVEY.md §2.A.4)
        return f"{name}({', '.join(args)})"

    def _is_int_expr(self, e, env: dict) -> bool:
        """Conservative static check: is this expression integer-typed?

        Catches the CASE-count idiom (`sum (case [... -> 1, true -> 0])`)
        and literal/`int`/`long`-cast arithmetic — the shapes where DuckDB's
        SUM promotes to HUGEINT.  Column refs of unknown type return False
        (no cast emitted; the oracle author must cast explicitly if a raw
        integer column is summed)."""
        if isinstance(e, A.Literal):
            return e.kind == "int"
        if isinstance(e, A.Ident):
            if len(e.parts) == 1 and e.parts[0] in env:
                # mirror emit()'s hygiene (line ~124): a bound expr is
                # resolved in an EMPTY env, so a name shadowed inside the
                # binding can't leak the caller's type classification.
                return self._is_int_expr(env[e.parts[0]], {})
            return False
        if isinstance(e, A.Unary):
            return e.op == "-" and self._is_int_expr(e.expr, env)
        if isinstance(e, A.Binary):
            return e.op in ("+", "-", "*", "%") and \
                self._is_int_expr(e.left, env) and self._is_int_expr(e.right, env)
        if isinstance(e, A.CaseExpr):
            return all(self._is_int_expr(v, env) for _, v in e.arms)
        if isinstance(e, A.FuncCall):
            if e.name in ("int", "long"):
                return True
            if e.name == "coalesce":
                return all(self._is_int_expr(a, env) for a in e.args)
            if e.name in self.funcs:
                fd = self.funcs[e.name]
                if len(e.args) == len(fd.params):
                    sub = dict(zip(fd.params, e.args))
                    return self._is_int_expr(fd.body, {**env, **sub})
            return False
        return False

    def _maybe_window(self, core: str, ranking: bool, ctx: ExprCtx) -> str:
        if ctx.mode == "aggregate":
            if ranking:
                raise CompileError(f"window function in aggregate: {core}")
            return core
        if ctx.mode == "window":
            w = ctx.window or WindowSpec()
            clauses = []
            if w.partition_by:
                clauses.append("PARTITION BY " + ", ".join(w.partition_by))
            if w.order_by:
                clauses.append("ORDER BY " + ", ".join(w.order_by))
            if not ranking:
                if w.frame is not None:
                    clauses.append(_frame_sql(*w.frame))
                elif w.order_by:
                    # whole-partition aggregate despite ORDER BY (matches the
                    # reference's emitted UNBOUNDED..UNBOUNDED, README.md:117-121)
                    clauses.append(_frame_sql("rows", None, None))
            return f"{core} OVER ({' '.join(clauses)})"
        # plain scalar context but aggregate/window function used: treat as
        # whole-table window (PRQL derive-with-aggregate semantics)
        return f"{core} OVER ()"


# ---------------------------------------------------------------------------
@dataclass
class Layer:
    from_sql: str
    aliases: set = field(default_factory=set)
    joins: list = field(default_factory=list)
    wheres: list = field(default_factory=list)
    group_keys: list = field(default_factory=list)   # (out_name, sql)
    aggs: list = field(default_factory=list)         # (out_name, sql)
    derives: list = field(default_factory=list)      # (out_name, sql)
    self_shadow: list = field(default_factory=list)  # derive names replacing cols
    projection: list | None = None                   # (out_name|None, sql)
    exclude: list | None = None                      # select ![...]
    distinct: bool = False
    sorts: list = field(default_factory=list)        # sql strings w/ direction
    limit: int | None = None
    offset: int | None = None

    def is_bare(self) -> bool:
        return not (self.wheres or self.group_keys or self.aggs or self.derives
                    or self.projection or self.exclude or self.distinct
                    or self.sorts or self.limit is not None)

    def has_body(self) -> bool:
        return not self.is_bare() or bool(self.joins)


class SqlGen:
    def __init__(self, dialect, funcs: dict):
        self.d = get_dialect(dialect)
        self.funcs = funcs
        self.counter = 0
        self.layer: Layer | None = None

    # ----------------------------------------------------------------- utils
    def fresh(self) -> str:
        self.counter += 1
        return f"_t{self.counter}"

    def emitter(self) -> Emitter:
        return Emitter(self.d, self.funcs, self.layer.aliases if self.layer else set())

    def _wrap(self) -> None:
        """Close the current layer into a subquery and start a new one."""
        inner_sorts = self.layer.sorts
        carried = [] if self.layer.limit is not None else inner_sorts
        if self.layer.limit is None:
            self.layer.sorts = []  # ORDER BY floats to the outer layer
        sql = self._emit_layer(self.layer)
        alias = self.fresh()
        new = Layer(from_sql=f"({sql}) AS {self.d.quote(alias)}", aliases={alias})
        new.sorts = list(carried) if carried else list(inner_sorts)
        self.layer = new

    def _ensure_bare(self) -> None:
        if self.layer.has_body() and not self.layer.is_bare():
            self._wrap()

    # ------------------------------------------------------------ transforms
    def apply(self, t) -> None:
        if isinstance(t, A.From):
            name = t.table
            alias = t.alias
            from_sql = self.d.qualified(name)
            aliases = {name.split(".")[-1]}
            if alias:
                from_sql += f" AS {self.d.quote(alias)}"
                aliases = {alias}
            self.layer = Layer(from_sql=from_sql, aliases=aliases)
            return
        if self.layer is None:
            raise CompileError("pipeline must start with `from`")
        if isinstance(t, A.Join):
            self._join(t)
        elif isinstance(t, A.Filter):
            self._filter(t)
        elif isinstance(t, A.Derive):
            self._derive(t.assigns)
        elif isinstance(t, A.Select):
            self._select(t)
        elif isinstance(t, A.Group):
            self._group(t)
        elif isinstance(t, A.Aggregate):
            self._aggregate_plain(t)
        elif isinstance(t, A.Sort):
            self._sort(t)
        elif isinstance(t, A.Take):
            self._take(t)
        elif isinstance(t, A.WindowT):
            self._window_top(t)
        elif isinstance(t, A.Append):
            self._append(t)
        elif isinstance(t, A.Loop):
            self._loop(t)
        else:
            raise CompileError(f"unsupported transform {type(t).__name__}")

    def _join(self, t: A.Join) -> None:
        if not self.layer.is_bare():
            self._wrap()
        side = {"inner": "JOIN", "left": "LEFT JOIN", "right": "RIGHT JOIN",
                "full": "FULL JOIN"}.get(t.side)
        if side is None:
            raise CompileError(f"unknown join side {t.side!r}")
        tbl = self.d.qualified(t.table)
        alias = t.alias
        tbl_sql = tbl + (f" AS {self.d.quote(alias)}" if alias else "")
        # the joined alias is in scope inside its own ON clause — register
        # it before emitting conditions or n2.x in a self-join is stripped
        self.layer.aliases.add(alias or t.table.split(".")[-1])
        em = self.emitter()
        using = [c.col for c in t.conds if isinstance(c, A.JoinCondUsing)]
        ons = [c for c in t.conds if not isinstance(c, A.JoinCondUsing)]
        if using and ons:
            raise CompileError("cannot mix shared-key and expression join conditions")
        if using:
            cols = ", ".join(self.d.quote(c) for c in using)
            clause = f"{side} {tbl_sql} USING ({cols})"
        elif ons:
            ctx = ExprCtx()
            cond = " AND ".join(em.emit(c, ctx) for c in ons)
            clause = f"{side} {tbl_sql} ON {cond}"
        else:
            clause = f"CROSS JOIN {tbl_sql}"
        self.layer.joins.append(clause)
    def _filter(self, t: A.Filter) -> None:
        if (self.layer.limit is not None or self.layer.group_keys or self.layer.aggs
                or self.layer.derives or self.layer.projection or self.layer.distinct
                or self.layer.exclude):
            self._wrap()
        self.layer.wheres.append(self.emitter().emit(t.expr, ExprCtx()))

    def _derive(self, assigns, window: WindowSpec | None = None) -> None:
        if self.layer.limit is not None or self.layer.distinct:
            self._wrap()
        if self.layer.group_keys or self.layer.aggs or self.layer.projection:
            # referencing agg aliases via lateral alias is dialect-fragile —
            # wrap instead; Catalyst collapses the extra projection
            self._wrap()
        em = self.emitter()
        ctx = ExprCtx(mode="window",
                      window=window or WindowSpec(order_by=list(self.layer.sorts)))
        for a in assigns:
            if not isinstance(a, A.Assign):
                raise CompileError("derive items must be named (name = expr)")
            if _expr_has_agg_or_window(a.expr, self.funcs):
                sql = em.emit(a.expr, ctx)
            else:
                sql = em.emit(a.expr, ExprCtx())
                if _expr_mentions(a.expr, a.name):
                    self.layer.self_shadow.append(a.name)
            self.layer.derives.append((a.name, sql))

    def _select(self, t: A.Select) -> None:
        # a wheres-only layer need not wrap: WHERE evaluates before the
        # projection, so filter|select is the same SELECT — and staying in
        # the layer keeps join-alias qualifiers (n2.x in a self-join)
        # resolvable, which a SELECT * wrap would make ambiguous
        only_wheres = self.layer.wheres and not (
            self.layer.group_keys or self.layer.aggs or self.layer.derives
            or self.layer.projection or self.layer.exclude
            or self.layer.distinct or self.layer.sorts
            or self.layer.limit is not None
        )
        if not self.layer.is_bare() and not only_wheres:
            self._wrap()
        em = self.emitter()
        if t.exclude:
            cols = []
            for e in t.exprs:
                if not (isinstance(e, A.Ident) and len(e.parts) == 1):
                    raise CompileError("select ! takes plain column names")
                cols.append(e.parts[0])
            self.layer.exclude = cols
            return
        proj = []
        ctx = ExprCtx(mode="window", window=WindowSpec(order_by=list(self.layer.sorts)))
        for e in t.exprs:
            if isinstance(e, A.Assign):
                if _expr_has_agg_or_window(e.expr, self.funcs):
                    proj.append((e.name, em.emit(e.expr, ctx)))
                else:
                    proj.append((e.name, em.emit(e.expr, ExprCtx())))
            else:
                proj.append((None, em.emit(e, ExprCtx())))
        self.layer.projection = proj

    def _group(self, t: A.Group) -> None:
        if self._try_distinct_idiom(t):
            return
        if not self.layer.is_bare():
            self._wrap()
        em = self.emitter()
        keys = []
        for k in t.keys:
            if isinstance(k, A.Ident):
                keys.append((k.name, em.emit(k, ExprCtx())))
            elif isinstance(k, A.Assign):
                keys.append((k.name, em.emit(k.expr, ExprCtx())))
            else:
                raise CompileError("group keys must be columns")
        key_sqls = [sql for _, sql in keys]

        pipe = list(t.pipeline)
        sorts: list[str] = []
        i = 0
        while i < len(pipe):
            st = pipe[i]
            if isinstance(st, A.Sort):
                sorts = [self._sort_key_sql(k, em) for k in st.keys]
            elif isinstance(st, A.Aggregate):
                self.layer.group_keys = keys
                actx = ExprCtx(mode="aggregate")
                for a in st.assigns:
                    name, expr = _agg_name(a)
                    self.layer.aggs.append((name, em.emit(expr, actx)))
            elif isinstance(st, A.WindowT):
                w = WindowSpec(partition_by=key_sqls, order_by=sorts,
                               frame=(st.kind, *st.frame) if st.frame else None)
                for sub in st.pipeline:
                    if isinstance(sub, A.Derive):
                        self._derive(sub.assigns, window=w)
                    elif isinstance(sub, A.Sort):
                        w.order_by = [self._sort_key_sql(k, em) for k in sub.keys]
                    else:
                        raise CompileError("window sub-pipeline supports derive/sort")
            elif isinstance(st, A.Derive):
                w = WindowSpec(partition_by=key_sqls, order_by=sorts)
                self._derive(st.assigns, window=w)
            elif isinstance(st, A.Take):
                self._group_take(st, key_sqls, sorts)
            elif isinstance(st, A.Filter):
                raise CompileError("filter inside group is not supported yet")
            else:
                raise CompileError(
                    f"unsupported transform in group: {type(st).__name__}")
            i += 1

    def _try_distinct_idiom(self, t: A.Group) -> bool:
        """group keys (take 1) over a projection of EXACTLY the keys ->
        SELECT DISTINCT.

        Semantically identical (every row in a partition is the same
        tuple, so 'any one of them' is 'the distinct tuple'), but the
        physical plan is a hash aggregate with map-side partial combine
        instead of a full sort-based ROW_NUMBER window — measured 2.5x
        on the 600k-row link-table distinct inside
        q_min_cost_supplier_q2.  Applies only when: the pipeline is a
        bare `take 1` (an inner sort means the caller wants a SPECIFIC
        row — that still needs the window), every group key is a plain
        ident, and the current layer projects exactly the key set with
        no aggs/derives/sorts/limit pending.
        """
        pipe = list(t.pipeline)
        if not (len(pipe) == 1 and isinstance(pipe[0], A.Take)
                and pipe[0].n == 1):
            return False
        L = self.layer
        if (not L.projection or L.aggs or L.derives or L.exclude
                or L.distinct or L.sorts or L.limit is not None
                or L.group_keys):
            return False
        if len(L.projection) != len(t.keys):
            return False
        if not all(isinstance(k, A.Ident) for k in t.keys):
            return False
        em = self.emitter()
        key_names = {k.parts[-1] for k in t.keys}
        key_sqls = {em.emit(k, ExprCtx()) for k in t.keys}
        for name, sql in L.projection:
            if name is not None:
                if name not in key_names:
                    return False
            elif sql not in key_sqls:
                return False
        L.distinct = True
        return True

    def _group_take(self, st: A.Take, key_sqls: list[str], sorts: list[str]) -> None:
        """group keys (take n) -> ROW_NUMBER() filter (distinct-on).

        Spark has no QUALIFY (probed), so emit the classic two-layer form and
        drop the helper column with * EXCEPT/EXCLUDE.
        """
        if st.n is None:
            raise CompileError("group (take) supports a single count")
        order = sorts or key_sqls
        rn = f"ROW_NUMBER() OVER (PARTITION BY {', '.join(key_sqls)} ORDER BY {', '.join(order)})"
        self.layer.derives.append(("_pq_rn", rn))
        self._wrap()
        self.layer.wheres.append(f"{self.d.quote('_pq_rn')} <= {st.n}")
        self._wrap()
        self.layer.projection = [(None, self.d.star_except(["_pq_rn"]))]

    def _aggregate_plain(self, t: A.Aggregate) -> None:
        if not self.layer.is_bare():
            self._wrap()
        em = self.emitter()
        actx = ExprCtx(mode="aggregate")
        for a in t.assigns:
            name, expr = _agg_name(a)
            self.layer.aggs.append((name, em.emit(expr, actx)))

    def _sort_key_sql(self, k: A.SortKey, em: Emitter) -> str:
        sql = em.emit(k.expr, ExprCtx())
        # Pin null ordering so Spark and the DuckDB oracle agree
        # (Spark defaults: ASC NULLS FIRST / DESC NULLS LAST; SURVEY §7.4-4)
        return f"{sql} DESC NULLS LAST" if k.desc else f"{sql} ASC NULLS FIRST"

    def _sort(self, t: A.Sort) -> None:
        if self.layer.limit is not None:
            self._wrap()
        em = self.emitter()
        self.layer.sorts = [self._sort_key_sql(k, em) for k in t.keys]

    def _take(self, t: A.Take) -> None:
        if self.layer.limit is not None:
            self._wrap()
        if t.n is not None:
            self.layer.limit = t.n
        else:
            start = t.start or 1
            if t.end is None:
                self.layer.offset = start - 1
                self.layer.limit = None if start == 1 else 2**31 - 1
            else:
                self.layer.offset = start - 1
                self.layer.limit = t.end - start + 1

    def _window_top(self, t: A.WindowT) -> None:
        w = WindowSpec(partition_by=[], order_by=list(self.layer.sorts),
                       frame=(t.kind, *t.frame) if t.frame else None)
        for sub in t.pipeline:
            if isinstance(sub, A.Derive):
                self._derive(sub.assigns, window=w)
            else:
                raise CompileError("top-level window supports derive only")

    def _append(self, t: A.Append) -> None:
        self.layer.sorts = []  # set ops discard order
        sql = self._emit_layer(self.layer)
        alias = self.fresh()
        other = self.d.qualified(t.table)
        union = f"({sql}) {t.op} (SELECT * FROM {other})"
        self.layer = Layer(from_sql=f"({union}) AS {self.d.quote(alias)}",
                           aliases={alias})

    def _loop(self, t: A.Loop) -> None:
        """PRQL `loop (...)` -> WITH RECURSIVE (post-0.6.1 transform).

        Semantics (PRQL book): the sub-pipeline is applied to the previous
        step's rows until it yields an empty relation; the result is the
        union of all steps.  Exactly iterative UNION ALL recursion, which
        both Spark (>=4.0) and DuckDB execute natively, so the oracle gets
        a full value check.  The recursion is emitted as a derived-table
        subquery so it composes with outer layers and `let` CTEs.

        Restrictions (SQL-standard recursive-term rules): no aggregate /
        group / sort / take inside the loop body.  Column ORDER of the step
        must match the anchor — end the body with an explicit `select` when
        deriving over an existing column (UNION ALL matches by position).
        """
        for st in t.pipeline:
            if isinstance(st, (A.Aggregate, A.Group, A.Sort, A.Take)):
                raise CompileError(
                    f"{type(st).__name__.lower()} is not allowed inside loop "
                    "(recursive step must be a row-wise pipeline)")
        self.layer.sorts = []  # recursion discards order
        anchor = self._emit_layer(self.layer)
        rec = self.fresh() + "_loop"
        sub = SqlGen(self.d, self.funcs)
        sub.layer = Layer(from_sql=self.d.quote(rec), aliases={rec})
        for st in t.pipeline:
            sub.apply(st)
        step = sub.finish()
        q = self.d.quote(rec)
        body = (f"WITH RECURSIVE {q} AS (\n{anchor}\nUNION ALL\n{step}\n)\n"
                f"SELECT * FROM {q}")
        alias = self.fresh()
        self.layer = Layer(from_sql=f"({body}) AS {self.d.quote(alias)}",
                           aliases={alias})

    # -------------------------------------------------------------- emission
    def _emit_layer(self, L: Layer) -> str:
        sel: list[str] = []
        if L.projection is not None:
            for name, sql in L.projection:
                sel.append(f"{sql} AS {self.d.quote(name)}" if name else sql)
            for name, sql in L.derives:
                sel.append(f"{sql} AS {self.d.quote(name)}")
        elif L.group_keys or L.aggs:
            for name, sql in L.group_keys:
                label = f" AS {self.d.quote(name)}" if sql != self.d.quote(name) else ""
                sel.append(sql + label)
            for name, sql in L.aggs:
                sel.append(f"{sql} AS {self.d.quote(name)}")
            for name, sql in L.derives:
                sel.append(f"{sql} AS {self.d.quote(name)}")
        else:
            excl = list(L.exclude or []) + list(L.self_shadow)
            star = self.d.star_except(excl) if excl else "*"
            sel.append(star)
            for name, sql in L.derives:
                sel.append(f"{sql} AS {self.d.quote(name)}")
        head = "SELECT DISTINCT" if L.distinct else "SELECT"
        parts = [f"{head} {', '.join(sel)}", f"FROM {L.from_sql}"]
        parts.extend(L.joins)
        if L.wheres:
            parts.append("WHERE " + " AND ".join(L.wheres))
        if L.group_keys or (L.aggs and L.group_keys == []):
            if L.group_keys:
                parts.append("GROUP BY " + ", ".join(sql for _, sql in L.group_keys))
        if L.sorts:
            parts.append("ORDER BY " + ", ".join(L.sorts))
        if L.limit is not None:
            parts.append(f"LIMIT {L.limit}")
        if L.offset:
            parts.append(f"OFFSET {L.offset}")
        return "\n".join(parts)

    def finish(self) -> str:
        if self.layer is None:
            raise CompileError("empty pipeline")
        return self._emit_layer(self.layer)


# ---------------------------------------------------------------------------
def _agg_name(a) -> tuple[str, object]:
    if isinstance(a, A.Assign):
        return a.name, a.expr
    if isinstance(a, A.FuncCall):
        suffix = ""
        if a.args and isinstance(a.args[-1], A.Ident):
            suffix = "_" + a.args[-1].name
        return f"{a.name}{suffix}", a
    raise CompileError("aggregate items must be named (name = fn col)")


def _expr_mentions(e, name: str) -> bool:
    if isinstance(e, A.Ident):
        return name in e.parts
    for child in _children(e):
        if _expr_mentions(child, name):
            return True
    return False


def _expr_has_agg_or_window(e, funcs: dict) -> bool:
    if isinstance(e, A.FuncCall):
        if e.name in AGG_FNS or e.name in WINDOW_FNS or e.name == "count":
            return True
        if e.name in funcs:
            return _expr_has_agg_or_window(funcs[e.name].body, funcs)
        return any(_expr_has_agg_or_window(a, funcs) for a in e.args)
    for child in _children(e):
        if _expr_has_agg_or_window(child, funcs):
            return True
    return False


def _children(e):
    if isinstance(e, A.Binary):
        return [e.left, e.right]
    if isinstance(e, A.Unary):
        return [e.expr]
    if isinstance(e, A.FuncCall):
        return list(e.args)
    if isinstance(e, (A.SString, A.FString)):
        return [p for p in e.parts if not isinstance(p, str)]
    if isinstance(e, A.CaseExpr):
        out = []
        for c, v in e.arms:
            if c is not None:
                out.append(c)
            out.append(v)
        return out
    if isinstance(e, A.RangeLit):
        return [x for x in (e.start, e.end) if x is not None]
    if isinstance(e, A.Assign):
        return [e.expr]
    if isinstance(e, A.ListLit):
        # identifiers inside `in [...]` (a derive that mentions its own
        # name in an in-list shadows that column)
        return list(e.items)
    return []
