"""The workloads.  Each one is a closed loop with a single client:
``setup`` registers its sources on a fresh session, ``op(item)`` runs one
operation and returns (kind, output), and ``check`` compares that output to
expectations computed by ``expect`` before any timing starts.  A workload's
``warmup_ops`` is the number of untimed ops before its window -- a count,
not a time, so a slow host does not leave the JIT less warm -- and
``cycle`` is the number of op kinds a window holds whole.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# Decimals of every column the queries round, by column name (names are
# unique across the queries); ``total_last_week`` is a lag of a rounded sum.
ROUNDED = {"sum_base": 2, "sum_disc_price": 2, "avg_qty": 4, "avg_disc": 4,
           "rev": 2, "spend": 2, "run_spend": 2, "total_price": 2,
           "running_total": 2, "total_last_week": 2, "revenue": 2, "big_spend": 2}


def _type_class(t: pa.DataType) -> str:
    """Type class of a column, as the parity oracle tags cells: integer
    widths differ between engines and file formats and are one class, but
    an integer, a decimal and a double are three."""
    for cls, test in (("bool", pa.types.is_boolean), ("int", pa.types.is_integer),
                      ("decimal", pa.types.is_decimal), ("float", pa.types.is_floating),
                      ("ts", pa.types.is_timestamp), ("date", pa.types.is_date),
                      ("str", lambda x: pa.types.is_string(x) or pa.types.is_large_string(x))):
        if test(t):
            return cls
    return str(t)


def canonical(tbl: pa.Table) -> pa.Table:
    """Engine-neutral form of a result for equality: columns by name, each
    column's type class kept in the field metadata, values in one type per
    class (int64, float64, decimals as strings, naive microseconds, days),
    rows sorted."""
    cols, fields = [], []
    for name in sorted(tbl.column_names):
        c = tbl.column(name)
        cls = _type_class(c.type)
        target = {"int": pa.int64(), "float": pa.float64(), "decimal": pa.string(),
                  "str": pa.string(), "date": pa.date32()}.get(cls)
        if cls == "ts":
            c = c.cast(pa.timestamp("us", tz=c.type.tz)).cast(pa.int64())
        elif target is not None:
            c = c.cast(target)
        cols.append(c)
        fields.append(pa.field(name, c.type, metadata={"class": cls}))
    out = pa.Table.from_arrays(cols, schema=pa.schema(fields))
    if out.num_rows and out.num_columns:
        # doubles sort last: two right answers may differ in a rounded one
        keys = sorted(out.column_names,
                      key=lambda n: pa.types.is_floating(out.schema.field(n).type))
        out = out.take(pc.sort_indices(out, [(n, "ascending") for n in keys]))
    return out.combine_chunks()


def _close(x: float, y: float, digits: int | None) -> bool:
    """Doubles agree to 9 decimals, as the parity oracle compares them.  A
    column the query rounds to ``digits`` may also differ by exactly one
    unit in that last decimal, both values rounded: a rounded sum can land
    on an exact half, which Spark rounds from the decimal and DuckDB from
    the binary double (e.g. 366455.44 vs .45), and both are right."""
    if round(x, 9) == round(y, 9):
        return True
    if digits is None:
        return False
    unit = 10.0 ** -digits
    return (abs(abs(x - y) - unit) < 1e-9 * max(1.0, abs(x))
            and round(x, digits) == x and round(y, digits) == y)


def same(result: pa.Table, expected: pa.Table) -> bool:
    """Whether ``result`` matches the canonical ``expected`` table: the same
    columns with the same type classes, the same rows; integers, strings,
    decimals and times exactly, doubles by `_close`."""
    got = canonical(result)
    if not got.schema.equals(expected.schema, check_metadata=True) \
            or got.num_rows != expected.num_rows:
        return False
    for name in got.column_names:
        a, b = got.column(name), expected.column(name)
        if a.equals(b):
            continue
        if not pa.types.is_floating(a.type):
            return False
        digits = ROUNDED.get(name)
        for x, y in zip(a.to_pylist(), b.to_pylist()):
            if x != y and (x is None or y is None or not _close(x, y, digits)):
                return False
    return True


def _duckdb_views(con, files: dict[str, str]) -> None:
    for name, path in files.items():
        reader = {"parquet": "read_parquet", "csv": "read_csv_auto",
                  "json": "read_json_auto"}[path.rsplit(".", 1)[1]]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {reader}('{path}')")


# A fixed mix of light and medium shapes: aggregation, multi-way joins,
# top-k, windows, CTEs and set operations.  The percentile queries are left
# out: at 4-6 s each, one of them outweighs the rest of a run.
OLAP_QUERIES = (
    "q_agg_q1", "q_join_agg_q5", "q_topk_customers", "q_window_running",
    "q_flagship_monthly", "q_shipping_priority_q3", "q_let_cte", "q_set_intersect",
)


class OlapRead:
    """PRQL -> Spark SQL -> Arrow over registered parquet views, as the
    CLI's arrow writer does it."""

    warmup_ops = 24

    def __init__(self, data_dir: str, seed: int, queries: dict[str, str]):
        self.tpch = data_dir
        self.queries = queries
        rng = np.random.default_rng([seed, 3])
        names = sorted(queries)
        # every query equally often, in a seeded order: the seed changes
        # the sequence and the data, never the mix
        self.order = [names[j] for _ in range(64) for j in rng.permutation(len(names))]
        self.cycle = len(names)
        self.expected: dict[str, pa.Table] = {}

    def files(self) -> dict[str, str]:
        return {f[:-8]: os.path.join(self.tpch, f)
                for f in sorted(os.listdir(self.tpch)) if f.endswith(".parquet")}

    def expect(self) -> None:
        import duckdb

        from prql_query_spark import compile_prql

        con = duckdb.connect()
        _duckdb_views(con, self.files())
        for name, prql in self.queries.items():
            self.expected[name] = canonical(
                con.execute(compile_prql(prql, "duckdb")).arrow())
        con.close()

    def setup(self, spark, tr) -> None:
        from prql_query_spark.engine.sources import load_parquet

        import __spark_entry__ as entry

        self.spark = spark
        with tr.span("sources.register"):
            for name, path in self.files().items():
                load_parquet(spark, path).createOrReplaceTempView(name)
        self.compile_kwargs = entry._compile_kwargs(self.tpch)  # noqa: SLF001

    def op(self, item: int, tr):
        from prql_query_spark import compile_prql
        from prql_query_spark.engine import PrqlEngine

        name = self.order[item % len(self.order)]
        with tr.span("compiler.compile"):
            sql = compile_prql(self.queries[name], "spark", **self.compile_kwargs)
        with tr.span("catalyst.analyze"):
            df = PrqlEngine(self.spark).sql(sql)
        if tr.on:
            with tr.span("catalyst.plan"):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
        with tr.span("exec.collect"):
            out = df.toArrow()
        return name, out

    def check(self, item: int, kind: str, out: pa.Table) -> bool:
        return same(out, self.expected[kind])

    def cleanup(self, item: int) -> None:
        pass


class CurateDedup:
    """`pipelines.curate_corpus` over a seeded corpus with planted
    defects, materializing the curated output each op.  An op costs some
    55 Spark jobs whatever the corpus size, and the first op on a fresh
    session takes about three later ones, so the warm-up is that one op."""

    cycle = 1
    warmup_ops = 1

    def __init__(self, data_dir: str):
        self.docs_path = os.path.join(data_dir, "documents.parquet")
        with open(os.path.join(data_dir, "expected.json"), encoding="utf-8") as f:
            self.golden = json.load(f)

    def expect(self) -> None:
        pass  # the golden is written with the inputs

    def setup(self, spark, tr) -> None:
        from pyspark.sql import functions as F

        from prql_query_spark.engine.sources import load_parquet

        self.spark = spark
        with tr.span("sources.register"):
            self.docs = load_parquet(spark, self.docs_path)
            self.bench = self.docs.filter(
                F.col("doc_id").isin(self.golden["bench_ids"])).select("doc_id", "text")

    def op(self, item: int, tr):
        from prql_query_spark.pipelines import curate_corpus

        from gen import DEDUP_THRESHOLD, GOPHER_OVERRIDES

        with tr.span("pipelines.curate_corpus"):
            out, manifest = curate_corpus(
                self.docs, benchmark=self.bench,
                minhash_threshold=DEDUP_THRESHOLD,
                gopher_overrides=GOPHER_OVERRIDES)
        with tr.span("exec.collect"):
            rows = out.select("doc_id", "clean_text").toArrow()
            stages = manifest.toArrow().to_pylist()
        return "curate", (rows, stages)

    def check(self, item: int, kind: str, out) -> bool:
        from gen import ids_digest

        rows, stages = out
        stages.sort(key=lambda r: r["stage_idx"])
        counts = [stages[0]["docs_in"]] + [r["docs_out"] for r in stages]
        ids = rows.column("doc_id").to_pylist()
        return (counts == self.golden["counts"]
                and [r["stage"] for r in stages] == [
                    "gopher_gate", "exact_dedup_keep_best", "minhash_dedup_cc",
                    "decontaminate"]
                and len(ids) == len(set(ids)) == counts[-1]
                and ids_digest(ids) == self.golden["ids_sha256"]
                and rows.column("clean_text").null_count == 0)

    def cleanup(self, item: int) -> None:
        # curate_corpus leaves the output's cache live for its caller
        self.spark.catalog.clearCache()


ETL_QUERY = """
from o
filter o_totalprice > 20000 and o_orderstatus != 'P'
derive [big = case [o_totalprice > 400000 -> o_totalprice, true -> 0.0]]
join c [o_custkey == c_custkey]
group [o_custkey, c_mktsegment] (
    aggregate [n = count, big_spend = round 2 (sum big), spend = round 2 (sum o_totalprice)]
)
sort [o_custkey]
"""
# (format, writer) of the op kinds: parquet by both writers, the text
# formats by one each, so a cycle is four ops and a run holds two
ETL_PLAN = [("parquet", "arrow"), ("parquet", "backend"), ("csv", "arrow"), ("json", "backend")]


class EtlWrite:
    """`pq` CLI conversions: CSV + NDJSON sources with schema inference, a
    filter/derive/join/aggregate, written as parquet/csv/json by the
    single-file arrow writer or the distributed backend writer."""

    warmup_ops = 4

    def __init__(self, data_dir: str, seed: int, out_dir: str):
        self.sources = {"o": os.path.join(data_dir, "orders.csv"),
                        "c": os.path.join(data_dir, "customer.json")}
        self.out_dir = out_dir
        rng = np.random.default_rng([seed, 4])
        self.order = [ETL_PLAN[j] for _ in range(64) for j in rng.permutation(len(ETL_PLAN))]
        self.cycle = len(ETL_PLAN)

    def expect(self) -> None:
        import duckdb

        from prql_query_spark import compile_prql

        con = duckdb.connect()
        _duckdb_views(con, self.sources)
        self.expected = canonical(con.execute(compile_prql(ETL_QUERY, "duckdb")).arrow())
        con.close()

    def setup(self, spark, tr) -> None:
        self.spark = spark
        shutil.rmtree(self.out_dir, ignore_errors=True)
        os.makedirs(self.out_dir)

    def target(self, item: int) -> str:
        fmt, writer = self.order[item % len(self.order)]
        return os.path.join(self.out_dir, f"op{item}_{writer}.{fmt}")

    def op(self, item: int, tr):
        import pq
        import prql_query_spark
        from prql_query_spark import engine
        from prql_query_spark.engine import writers

        fmt, writer = self.order[item % len(self.order)]
        argv = [f"-f{a}={p}" for a, p in self.sources.items()]
        argv += ["-t", self.target(item), "-w", writer, ETL_QUERY]
        with tr.wrapping([
            (engine, "register_sources", "sources.register"),
            (prql_query_spark, "compile_prql", "compiler.compile"),
            (engine.PrqlEngine, "sql", "catalyst.analyze"),
            (writers, "write_single_file", "writers.write"),
            (writers, "write_distributed", "writers.write"),
        ]):
            rc = pq.main(argv)
        return f"{fmt}/{writer}", rc

    def written(self, item: int) -> tuple[int, int]:
        """(bytes, data files) of op ``item``'s output."""
        path = self.target(item)
        files = [path] if os.path.isfile(path) else [
            os.path.join(path, f) for f in os.listdir(path)
            if not f.startswith(("_", "."))]
        return sum(os.path.getsize(f) for f in files), len(files)

    def read_back(self, item: int) -> pa.Table:
        import pyarrow.dataset as ds

        path = self.target(item)
        fmt = path.rsplit(".", 1)[1]
        if fmt == "json":
            import pyarrow.json as pajson

            paths = [path] if os.path.isfile(path) else sorted(
                os.path.join(path, f) for f in os.listdir(path)
                if f.endswith(".json"))
            return pa.concat_tables([pajson.read_json(p) for p in paths]) \
                if paths else pa.table({})
        return ds.dataset(path, format=fmt, exclude_invalid_files=True).to_table()

    def check(self, item: int, kind: str, out) -> bool:
        return out == 0 and same(self.read_back(item), self.expected)

    def cleanup(self, item: int) -> None:
        path = self.target(item)
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)
