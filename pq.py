#!/usr/bin/env python
"""pq — query and transform data with PRQL, on Spark.

CLI mirroring the reference binary's surface (/root/reference/src/main.rs:38-81):
flags -f/--from, -t/--to, --no-exec, --format, -w/--writer, --sql, PQ_* env
vars (PQ_FROM PQ_TO PQ_FORMAT PQ_WRITER PQ_SQL PQ_QUERY), `.prql` file / `-`
stdin query input, auto-`from` insertion, format inference from the --to
extension (main.rs:164-196), and the parquet-to-stdout guard (main.rs:167-171).

The backend flag is accepted for compatibility but there is exactly one
backend here: Spark ("auto" and "spark" both select it).
"""

from __future__ import annotations

import argparse
import os
import sys


def _env(name: str, default=None):
    return os.environ.get(name, default)


def _load_dotenv() -> None:
    """Tiny .env loader (reference uses dotenvy, main.rs:117)."""
    if not os.path.exists(".env"):
        return
    with open(".env", encoding="utf-8") as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            os.environ.setdefault(k.strip(), v.strip())


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pq", description="pq: query and transform data with PRQL (Spark engine)"
    )
    p.add_argument("-f", "--from", dest="frm", action="append",
                   default=None, help="file(s) to read data FROM (alias=path)")
    p.add_argument("-t", "--to", default=None, help="file to write TO, else stdout")
    p.add_argument("-d", "--database", default=None,
                   help="database to connect to (duckdb://, sqlite://)")
    p.add_argument("-b", "--backend", default=None,
                   choices=["auto", "spark", "datafusion", "duckdb"],
                   help="engine backend (datafusion/duckdb accepted for "
                        "reference-CLI compat, mapped to spark)")
    p.add_argument("--no-exec", action="store_true",
                   help="only generate SQL without executing")
    p.add_argument("--format", default=None,
                   choices=["csv", "json", "parquet", "table"])
    p.add_argument("-w", "--writer", default=None, choices=["arrow", "backend"],
                   help="arrow = single-file via driver; backend = df.write.*")
    p.add_argument("--schema", default=None,
                   help="DDL schema for csv/ndjson sources (\"a INT, b STRING\") "
                        "instead of inference; applies to every csv/ndjson "
                        "source listed (reference TODO.md:38)")
    p.add_argument("--append", action="store_true",
                   help="append to an existing sink instead of "
                        "create/overwrite (delta/iceberg snapshots, "
                        "dataset dirs); forces the backend writer")
    p.add_argument("--partition-by", default=None, metavar="COLS",
                   help="comma-separated columns to partition the sink by "
                        "(hive layout for parquet/orc/csv/json datasets, "
                        "partitionColumns for delta, identity partition "
                        "spec for iceberg); forces the backend writer")
    p.add_argument("--sql", action="store_true",
                   help="pass a SQL query rather than a PRQL one")
    p.add_argument("--explain", action="store_true",
                   help="print the Catalyst physical plan instead of results")
    p.add_argument("query", nargs="?", default=None)
    return p


def main(argv: list[str] | None = None) -> int:
    _load_dotenv()
    args = build_parser().parse_args(argv)

    # -b/--backend + PQ_BACKEND compat (reference src/main.rs:52-53,83-88):
    # the reference accepts datafusion|duckdb; here both map to the one
    # available engine with a warning instead of an argparse error, so
    # existing scripts keep running.
    backend = args.backend or _env("PQ_BACKEND", "auto")
    if backend in ("datafusion", "duckdb"):
        print(
            f"warning: backend '{backend}' is not available in "
            "prql-query-spark; running on spark",
            file=sys.stderr,
        )
    elif backend not in ("auto", "spark"):
        print(f"Error (args): unknown backend '{backend}'", file=sys.stderr)
        return 1

    frm = args.frm if args.frm is not None else (
        _env("PQ_FROM").split(",") if _env("PQ_FROM") else []
    )
    to = (args.to if args.to is not None else _env("PQ_TO", "-")).rstrip("/")
    fmt = args.format or _env("PQ_FORMAT")
    writer = args.writer or _env("PQ_WRITER", "arrow")
    use_sql = args.sql or _env("PQ_SQL", "false") == "true"
    database = args.database if args.database is not None else _env("PQ_DATABASE")
    query = args.query if args.query is not None else _env("PQ_QUERY", "-")

    # ---- query input (main.rs:124-137)
    if query == "-":
        if sys.stdin.isatty():
            print("Enter QUERY, then press Ctrl-d:")
            print()
        query = sys.stdin.read()
        print("---")
    elif query.endswith(".prql"):
        with open(query, encoding="utf-8") as fh:
            query = fh.read()
    query = query.strip()

    # ---- format inference + guards (main.rs:164-196)
    if fmt:
        if to == "-" and fmt == "parquet" and sys.stdout.isatty():
            print(f"Error: Cannot print format={fmt} to stdout.", file=sys.stderr)
            return 1
        if to != "-" and not to.endswith(fmt):
            print(f"Error: to={to!r} is incompatible with format={fmt!r}!",
                  file=sys.stderr)
            return 1
    else:
        if to == "-":
            fmt = "table"
        else:
            ext = to.rsplit(".", 1)[-1]
            fmt = {"csv": "csv", "json": "json", "parquet": "parquet",
                   "table": "table", "tbl": "table",
                   "orc": "orc", "xml": "xml",
                   "delta": "delta", "avro": "avro",
                   "iceberg": "iceberg"}.get(ext)  # beyond reference
            if fmt is None:
                print(f"Error: .{ext} files are currently not supported.",
                      file=sys.stderr)
                return 1

    from prql_query_spark import compile_prql
    from prql_query_spark.engine.sources import auto_from, standardise_sources

    # ---- auto-from + compile (main.rs:144-150, 280): once, before any
    # Spark session starts, so a PRQL error is reported at no session cost
    sources = standardise_sources(frm)
    if not use_sql and sources:
        query = auto_from(query, sources[-1][0])
    sql = query if use_sql else compile_prql(query, "spark")

    # ---- transpile-only path (main.rs:229-231)
    if args.no_exec or (not database and not frm and not use_sql):
        print(sql)
        return 0

    # ---- execution
    from prql_query_spark.engine import PrqlEngine
    from prql_query_spark.engine.session import (
        get_spark, sources_bytes, tune_session_for,
    )
    from prql_query_spark.engine.writers import (
        write_distributed, write_pretty, write_single_file,
    )

    spark = get_spark("pq-cli")
    spark.sparkContext.setLogLevel("ERROR")
    eng = PrqlEngine(spark)
    if database:
        from prql_query_spark.engine.databases import attach_database

        attach_database(spark, database)
    eng.add_sources(frm, schema=args.schema)
    tune_session_for(spark, sources_bytes([p for _, p in sources if p]))
    df = eng.sql(sql)

    if args.explain:
        # formatted physical plan: scan pushdowns, join strategies, exchanges
        jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
        print(df._jdf.queryExecution().explainString(jmode))
        return 0

    if to == "-":
        if fmt == "table":
            print(write_pretty(df))
        elif fmt == "csv":
            import io

            pdf = df.toPandas()
            buf = io.StringIO()
            pdf.to_csv(buf, index=False)
            sys.stdout.write(buf.getvalue())
        elif fmt == "json":
            for row in df.toJSON().collect():
                print(row)
        else:
            print("Error: Cannot print parquet to stdout.", file=sys.stderr)
            return 1
    else:
        part_cols = [c.strip() for c in args.partition_by.split(",")
                     if c.strip()] if args.partition_by else None
        if part_cols and fmt == "xml":
            print("Error (args): --partition-by is not supported by the "
                  "xml sink (single rowTag stream has no partition "
                  "concept)", file=sys.stderr)
            return 1
        if fmt == "avro":
            if args.append or part_cols:
                print("Error (args): --append/--partition-by are not "
                      "supported by the single-file avro sink",
                      file=sys.stderr)
                return 1
            from prql_query_spark.engine.avro import write_avro

            write_avro(df, to)  # pure-Python single-file sink
        elif (writer == "arrow" and not args.append and not part_cols
              and fmt not in ("orc", "xml", "delta", "iceberg")):
            write_single_file(df, to, fmt)
        else:  # orc/xml/delta/iceberg, --append, or --partition-by:
            # executors write
            write_distributed(df, to, fmt,
                              mode="append" if args.append else "overwrite",
                              partition_by=part_cols)
    return 0


def _main() -> int:
    """Clean CLI errors: compile and analysis failures are user mistakes,
    not crashes — one-line message, exit 1 (PQ_DEBUG=1 keeps the trace)."""
    import os

    try:
        return main()
    except KeyboardInterrupt:
        return 130
    except Exception as exc:  # noqa: BLE001
        if os.environ.get("PQ_DEBUG"):
            raise
        from prql_query_spark.compiler.parser import ParseError

        kind = "parse error" if isinstance(exc, ParseError) else "error"
        msg = str(exc).strip().splitlines()[0] if str(exc).strip() else repr(exc)
        print(f"Error ({kind}): {msg}", file=sys.stderr)
        return 1


if __name__ == "__main__":
    raise SystemExit(_main())
