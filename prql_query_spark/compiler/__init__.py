"""PRQL 0.6-surface -> SQL compiler (Spark + DuckDB dialects).

Pipeline mirrors the reference's staging (PRQL -> PL -> RQ -> SQL; stage names
evidenced at /root/reference/src/backends/duckdb.rs:129,63-64) as
lex -> parse (PL) -> SqlGen layers (RQ-lite) -> SQL text.

``let name = s"SELECT ..."`` definitions become CTEs, exactly how the
reference's DuckDB backend injects file sources at the PL level
(/root/reference/src/backends/duckdb.rs:53-59).
"""

from __future__ import annotations

from prql_query_spark.compiler.dialect import DIALECTS, get_dialect
from prql_query_spark.compiler.parser import ParseError, parse
from prql_query_spark.compiler.sqlgen import CompileError, Emitter, ExprCtx, SqlGen

__all__ = ["compile_prql", "parse", "ParseError", "CompileError", "DIALECTS"]


def compile_prql(src: str, dialect: str = "spark") -> str:
    """Compile PRQL text to a single SQL statement in the given dialect.

    A pure text-to-text function, as in the reference (prql-compiler,
    main.rs:280): it knows nothing of the tables the query reads, and
    leaves planning (join order, aggregation placement, broadcast) to the
    engine that runs the SQL — Catalyst here, DuckDB for the oracle.
    """
    q = parse(src)
    ctes: list[tuple[str, str]] = []
    d = get_dialect(dialect)

    for let in q.lets:
        if let.sql is not None:
            raw = Emitter(d, q.funcs, set()).emit(let.sql, ExprCtx())
            ctes.append((let.name, raw))
        else:
            sub = SqlGen(d, q.funcs)
            for t in let.pipeline:
                sub.apply(t)
            ctes.append((let.name, sub.finish()))

    gen = SqlGen(d, q.funcs)
    if not q.pipeline:
        raise CompileError("query has no main pipeline")
    for t in q.pipeline:
        gen.apply(t)
    body = gen.finish()

    if ctes:
        cte_sql = ",\n".join(
            f"{d.quote(name)} AS (\n{sql}\n)" for name, sql in ctes
        )
        return f"WITH {cte_sql}\n{body}"
    return body
