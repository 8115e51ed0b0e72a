"""Compiler unit tests: parse + SQL generation, validated by executing the
DuckDB dialect on the driver's sf0.001 parquet (fast, no JVM).

This mirrors the survey's test strategy (SURVEY.md §5): the reference has no
tests of its own; we use DuckDB as the executable oracle for compiled SQL.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from prql_query_spark import compile_prql
from prql_query_spark.compiler.parser import parse
from prql_query_spark.compiler import ast_nodes as A

SF = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    return c


def run(con, prql: str):
    sql = compile_prql(prql, "duckdb")
    return con.execute(sql).fetchall()


# ------------------------------------------------------------------- parsing
def test_parse_pipeline_shapes():
    q = parse("from a | select [x, y] | filter x > 1 | take 5")
    kinds = [type(t).__name__ for t in q.pipeline]
    assert kinds == ["From", "Select", "Filter", "Take"]


def test_parse_join_using():
    q = parse("from a | join b [==k] | join side:left c=cc [a.x == c.y]")
    j1, j2 = q.pipeline[1], q.pipeline[2]
    assert isinstance(j1.conds[0], A.JoinCondUsing) and j1.conds[0].col == "k"
    assert j2.side == "left" and j2.alias == "c" and j2.table == "cc"


def test_parse_group_window():
    q = parse("""
from t
group [k] (
    sort d
    window expanding:true (
        derive [rt = sum x]
    )
)
""")
    g = q.pipeline[1]
    assert isinstance(g, A.Group)
    assert isinstance(g.pipeline[0], A.Sort)
    assert isinstance(g.pipeline[1], A.WindowT)
    assert g.pipeline[1].frame == (None, 0)


def test_parse_func_def_and_sstring():
    q = parse('''
func fmt_m ts -> s"STRFTIME('%Y-%m', {ts})"
from orders
derive [m = fmt_m o_orderdate]
''')
    assert "fmt_m" in q.funcs
    sql = compile_prql('''
func fmt_m ts -> s"STRFTIME('%Y-%m', {ts})"
from orders
derive [m = fmt_m o_orderdate]
''', "spark")
    assert "date_format(`o_orderdate`, 'yyyy-MM')" in sql


# --------------------------------------------------------------- execution
def test_take(con):
    assert len(run(con, "from lineitem | take 5")) == 5


def test_take_range(con):
    rows = run(con, "from lineitem | sort [l_orderkey, l_linenumber] | take 3..7")
    assert len(rows) == 5


def test_group_aggregate(con):
    rows = run(con, """
from lineitem
group [l_returnflag, l_linestatus] (
    aggregate [sum_qty = sum l_quantity, n = count]
)
sort [l_returnflag, l_linestatus]
""")
    assert len(rows) >= 3
    assert all(r[3] > 0 for r in rows)


def test_join_sides(con):
    inner = run(con, "from orders | join customer [o_custkey == c_custkey] | aggregate [n = count]")
    left = run(con, "from orders | join side:left customer [o_custkey == c_custkey] | aggregate [n = count]")
    assert left[0][0] >= inner[0][0]


def test_filter_null_semantics(con):
    # `== null` must compile to IS NULL, not `= NULL` (SURVEY §2.A #25)
    sql = compile_prql("from orders | filter o_custkey == null", "spark")
    assert "IS NULL" in sql
    rows = run(con, "from orders | filter o_custkey != null | aggregate [n = count]")
    assert rows[0][0] > 0


def test_derive_fstring(con):
    rows = run(con, '''
from customer
derive [label = f"{c_name}-x"]
select [label]
take 1
''')
    assert rows[0][0].endswith("-x")


def test_case_expr(con):
    rows = run(con, """
from orders
derive [big = case [o_totalprice > 100 -> 'big', true -> 'small']]
group [big] (aggregate [n = count])
sort [big]
""")
    assert len(rows) <= 2


def test_distinct_group_take1(con):
    rows = run(con, "from lineitem | select [l_returnflag] | group [l_returnflag] (take 1)")
    flags = sorted(r[0] for r in rows)
    assert len(flags) == len(set(flags))


def test_distinct_idiom_compiles_to_select_distinct():
    """Key-only projections take the hash-aggregate DISTINCT form (2.5x
    the sort-window on a 600k-row distinct, measured); an inner sort or
    extra visible columns keep the ROW_NUMBER distinct-on path, whose
    picked row is load-bearing."""
    from prql_query_spark import compile_prql

    sql = compile_prql(
        "from lineitem | select [l_partkey, l_suppkey] | "
        "group [l_partkey, l_suppkey] (take 1)", "spark")
    assert "SELECT DISTINCT" in sql and "ROW_NUMBER" not in sql

    keeps_window = compile_prql(
        "from orders | group [o_custkey] (\n  sort [-o_totalprice]\n  take 1\n)",
        "spark")
    assert "ROW_NUMBER" in keeps_window and "SELECT DISTINCT" not in keeps_window


def test_window_rolling(con):
    rows = run(con, """
from orders
sort [o_orderdate, o_orderkey]
window rolling:7 (
    derive [avg7 = average o_totalprice]
)
select [o_orderkey, avg7]
take 10
""")
    assert len(rows) == 10 and rows[0][1] is not None


def test_let_cte(con):
    rows = run(con, """
let big = (
    from orders
    filter o_totalprice > 50
)
from big
aggregate [n = count]
""")
    assert rows[0][0] > 0


def test_append_union(con):
    one = run(con, "from nation | aggregate [n = count]")[0][0]
    two = run(con, "from nation | append nation | aggregate [n = count]")[0][0]
    assert two == 2 * one


def test_select_exclude(con):
    sql = compile_prql("from nation | select ![n_regionkey]", "duckdb")
    cols = [d[0] for d in con.execute(sql).description]
    assert "n_regionkey" not in cols and "n_name" in cols


def test_coalesce_op(con):
    rows = run(con, "from orders | derive [v = o_custkey ?? 0] | select [v] | take 1")
    assert rows[0][0] is not None


def test_in_range(con):
    rows = run(con, """
from orders
filter (o_orderdate | in @1995-01-01..@1996-12-31)
aggregate [n = count]
""")
    assert rows[0][0] > 0


def test_sort_after_aggregate_alias(con):
    rows = run(con, """
from orders
group [o_orderstatus] (aggregate [spend = sum o_totalprice])
sort [-spend]
take 3
""")
    spends = [r[1] for r in rows]
    assert spends == sorted(spends, reverse=True)


def test_spark_dialect_strftime_shim():
    sql = compile_prql(
        'from orders | derive [m = s"STRFTIME(\'%Y-%m\', {o_orderdate})"]', "spark")
    assert "date_format" in sql and "STRFTIME" not in sql


# Lines as SURVEY.md §2 cites them: join :2, derive :3-6, s-strings :4-5 and
# :9, sums :10-11, group/sort/window :14-19, sort :20, lag :21.
INVOICE_TOTALS_PRQL = """\
from i=invoices
join ii=invoice_items [==invoice_id]
derive [
    month = s"STRFTIME('%Y-%m', {i.invoice_date})",
    day = s"STRFTIME('%Y-%m-%d', {i.invoice_date})",
]
group [month, day] (
    aggregate [
        num_orders = s"COUNT(DISTINCT {i.invoice_id})",
        num_tracks = sum ii.quantity,
        total_price = sum (ii.unit_price * ii.quantity),
    ]
)
group [month] (
    sort day
    window expanding:true (
        derive [running_total_num_tracks = sum num_tracks]
    )
)
sort day
derive [num_tracks_last_week = lag 7 num_tracks]
"""
INVOICE_TOTALS_REF = "/root/reference/examples/queries/invoice_totals.prql"


def test_two_level_window_flagship():
    """invoice_totals shape: aggregate then window-over-aggregate
    (reference README.md:105-129).  Compiles INVOICE_TOTALS_PRQL, a copy of
    the reference's examples/queries/invoice_totals.prql:1-21 laid out line
    for line as SURVEY.md cites it; wherever the reference checkout is
    present, its own file is compiled and checked the same way too."""
    prqls = [INVOICE_TOTALS_PRQL]
    if os.path.exists(INVOICE_TOTALS_REF):
        with open(INVOICE_TOTALS_REF) as f:
            prqls.append(f.read())
    for prql in prqls:
        sql = compile_prql(prql, "spark")
        assert "SUM(`num_tracks`) OVER (PARTITION BY `month`" in sql
        assert "LAG(`num_tracks`, 7) OVER" in sql
        assert "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW" in sql


# ------------------------------------------------------------------- loop
LOOP_PRQL = """
let seed = (from region | aggregate [k = min r_regionkey, v = 1 + min r_regionkey])
from seed
loop (
  filter k < 10
  select [k = k + 1, v = v * 2]
)
sort [k, v]
"""


def test_loop_recursive_cte(con):
    """PRQL `loop` -> WITH RECURSIVE: union of all steps until empty
    (post-0.6.1 transform, SURVEY §7.5 deferred item)."""
    rows = run(con, LOOP_PRQL)
    assert [r[0] for r in rows] == list(range(11))     # k = 0..10
    assert [r[1] for r in rows] == [2 ** k for k in range(11)]  # v doubles
    sql = compile_prql(LOOP_PRQL, "spark")
    assert "WITH RECURSIVE" in sql and "UNION ALL" in sql


def test_loop_rejects_aggregate_and_take():
    from prql_query_spark.compiler.sqlgen import CompileError

    for body in ("aggregate [n = count]", "take 3", "sort [k]"):
        with pytest.raises(CompileError, match="not allowed inside loop"):
            compile_prql(f"from region | loop ({body})", "spark")


def test_cli_no_exec_prints_sql(capsys):
    import pq

    rc = pq.main(["--no-exec", "from t | select [a, b] | take 3"])
    out = capsys.readouterr().out
    assert rc == 0 and "SELECT" in out and "LIMIT 3" in out


def test_cli_no_exec_passthrough_keeps_full_name(capsys):
    """A --from entry with an unknown extension is a passthrough table:
    auto-from names it in full, as registration does, not by its stem."""
    import pq

    rc = pq.main(["--no-exec", "-f", "main.orders", "select [a]"])
    out = capsys.readouterr().out
    assert rc == 0 and "FROM `main`.`orders`" in out


def test_cli_parquet_source_with_ns_timestamps(spark, tmp_path, capsys):
    """CLI parquet sources load through load_parquet: INT64
    TIMESTAMP(NANOS) columns read, truncated to microseconds."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as papq

    import pq

    p = tmp_path / "ns.parquet"
    ts = pa.array([1_700_000_000_123_456_789], type=pa.int64()).cast(
        pa.timestamp("ns"))
    papq.write_table(pa.table({"id": [1], "ts": ts}), str(p))
    rc = pq.main(["-f", f"n={p}", "from n | select [ts]"])
    out = capsys.readouterr().out
    want = datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert rc == 0 and f"| {want} |" in out


def test_cli_exec_compiles_once(spark, tmp_path, capsys, monkeypatch):
    """The exec path compiles once, with no table catalog."""
    import prql_query_spark
    import pq

    calls = []
    real = prql_query_spark.compile_prql

    def counting(*a, **kw):
        calls.append(kw)
        return real(*a, **kw)

    monkeypatch.setattr(prql_query_spark, "compile_prql", counting)
    csv = tmp_path / "d.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    rc = pq.main(["-f", f"d={csv}", "aggregate [n = count]"])
    assert rc == 0 and "| 2 " in capsys.readouterr().out
    assert len(calls) == 1 and calls[0] == {}  # no keyword arguments


def test_cli_prql_error_before_session(tmp_path, monkeypatch):
    """A PRQL error is reported before any Spark session starts, so a
    typo costs no session start (the reference compiles first too)."""
    import pq
    from prql_query_spark.compiler.parser import ParseError
    from prql_query_spark.engine import session

    def no_session(*a, **kw):
        raise AssertionError("Spark session started before compiling")

    monkeypatch.setattr(session, "get_spark", no_session)
    csv = tmp_path / "d.csv"
    csv.write_text("a,b\n1,x\n")
    with pytest.raises(ParseError):
        pq.main(["-f", f"d={csv}", "from d | select [("])


# sha256[:16] of the Spark SQL the benchmark's olap_read queries compile
# to; a change here changes what the benchmark runs
OLAP_SQL_SHA = {
    "q_agg_q1": "f2d3ad84e59e791e",
    "q_join_agg_q5": "6a7bc0ac676ea6d8",
    "q_topk_customers": "d94b87ec365fb0bc",
    "q_window_running": "b464c1cd350650c7",
    "q_flagship_monthly": "4693bb9c6a9884b2",
    "q_shipping_priority_q3": "26e0d3ed14d01968",
    "q_let_cte": "42115c36b20a645b",
    "q_set_intersect": "553bb6b158b3d2ed",
}


def test_olap_queries_compile_unchanged():
    import hashlib

    import __spark_entry__ as entry

    got = {q: hashlib.sha256(compile_prql(
        entry.PRQL_QUERIES[q], "spark").encode()).hexdigest()[:16]
        for q in OLAP_SQL_SHA}
    assert got == OLAP_SQL_SHA


def test_cli_explain_shows_pushdown(spark, capsys, sf_dir):
    """--explain surfaces the Catalyst plan; the filter must reach the
    parquet scan as a pushed filter."""
    import pq

    rc = pq.main([
        "--explain", "-f", f"li={sf_dir}/lineitem.parquet",
        "from li | filter l_quantity > 40 | select [l_orderkey] | take 5",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "PushedFilters" in out and "GreaterThan(l_quantity" in out


def test_self_join_keeps_alias_qualifiers():
    """Aliased self-join: the joined alias must survive in ON, WHERE and
    SELECT (a premature SELECT-* wrap would strip it and leave ambiguous
    bare columns)."""
    from prql_query_spark import compile_prql

    sql = compile_prql(
        """
from nation
join n2=nation [nation.n_regionkey == n2.n_regionkey]
filter nation.n_nationkey < n2.n_nationkey
select [a = nation.n_name, b = n2.n_name]
""",
        "spark",
    )
    assert "`n2`.`n_regionkey`" in sql and "`n2`.`n_name` AS `b`" in sql
    assert sql.count("SELECT") == 1  # filter|select fused into one layer


def test_cli_delta_sink_roundtrip(spark, tmp_path, sf_dir):
    """`--to out.delta` end to end without the connector jar: the CLI
    executes the PRQL, commits through the pure-Python Delta writer, and
    the table reads back (auto-detected from _delta_log) with the same
    rows."""
    import pq
    from prql_query_spark.engine.sources import read_source

    out = str(tmp_path / "out.delta")
    rc = pq.main([
        "-f", f"r={sf_dir}/region.parquet", "-t", out,
        "from r | select [r_regionkey, r_name] | sort [r_regionkey]",
    ])
    assert rc == 0
    got = sorted((r.r_regionkey, r.r_name)
                 for r in read_source(spark, out).collect())
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    want = sorted((r.r_regionkey, r.r_name)
                  for r in src.select("r_regionkey", "r_name").collect())
    assert got == want


def test_cli_table_file_sink(spark, tmp_path, sf_dir, capsys):
    """`--to out.table` / `out.tbl` write the pretty table stdout gets."""
    import pq

    query = "from r | select [r_regionkey, r_name] | sort [r_regionkey]"
    base = ["-f", f"r={sf_dir}/region.parquet"]
    assert pq.main(base + [query]) == 0
    want = capsys.readouterr().out
    assert "| r_regionkey | r_name" in want
    for ext in ("table", "tbl"):
        out = tmp_path / f"out.{ext}"
        assert pq.main(base + ["-t", str(out), query]) == 0
        assert out.read_text(encoding="utf-8") == want


def test_cli_iceberg_sink_roundtrip(spark, tmp_path, sf_dir):
    """`--to out.iceberg` end to end without the connector jar: the CLI
    executes the PRQL, writes through the pure-Python v2 metadata-chain
    writer, and the table reads back (auto-detected from metadata/) with
    the same rows."""
    import pq
    from prql_query_spark.engine.sources import read_source

    out = str(tmp_path / "out.iceberg")
    rc = pq.main([
        "-f", f"r={sf_dir}/region.parquet", "-t", out,
        "from r | select [r_regionkey, r_name] | sort [r_regionkey]",
    ])
    assert rc == 0
    got = sorted((r.r_regionkey, r.r_name)
                 for r in read_source(spark, out).collect())
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    want = sorted((r.r_regionkey, r.r_name)
                  for r in src.select("r_regionkey", "r_name").collect())
    assert got == want


def test_cli_iceberg_append_flag(spark, tmp_path, sf_dir):
    """`--to out.iceberg --append` adds a snapshot to the existing
    table (read-back sees both writes); re-running WITHOUT --append
    OVERWRITES (r10 — delete-by-replace snapshot, matching the delta
    sink): head reads only the re-run's rows while the pre-overwrite
    snapshot stays time-travelable."""
    import pq
    from prql_query_spark.engine.iceberg import read_iceberg
    from prql_query_spark.engine.sources import read_source

    out = str(tmp_path / "out.iceberg")
    base = ["-f", f"r={sf_dir}/region.parquet"]
    assert pq.main(base + [
        "-t", out, "from r | filter r_regionkey <= 2 "
        "| select [r_regionkey, r_name]"]) == 0
    assert pq.main(base + [
        "-t", out, "--append", "from r | filter r_regionkey > 2 "
        "| select [r_regionkey, r_name]"]) == 0
    got = sorted(r.r_regionkey for r in read_source(spark, out).collect())
    want = sorted(r.r_regionkey for r in
                  spark.read.parquet(f"{sf_dir}/region.parquet").collect())
    assert got == want
    # re-run without --append: overwrite snapshot replaces the contents
    assert pq.main(base + [
        "-t", out, "from r | filter r_regionkey == 0 "
        "| select [r_regionkey, r_name]"]) == 0
    assert [r.r_regionkey
            for r in read_source(spark, out).collect()] == [0]
    # ...and the full pre-overwrite table is still one time travel away
    assert sorted(r.r_regionkey for r in
                  read_iceberg(spark, out, snapshot_id=2).collect()) == want


def test_cli_partition_by_sinks(spark, tmp_path, sf_dir):
    """`--partition-by` (r11): parquet sinks get hive layout (dirs
    prune at plan time), iceberg sinks declare the identity spec and
    serve pruned `where=` reads, appends inherit the layout, and
    formats without a partition concept refuse loudly."""
    import os

    import pq
    from prql_query_spark.engine.iceberg import read_iceberg
    from prql_query_spark.engine.sources import read_source

    base = ["-f", f"n={sf_dir}/nation.parquet"]
    q = "from n | select [n_nationkey, n_name, n_regionkey]"

    # hive-layout parquet dataset (format inferred from the suffix)
    pqout = str(tmp_path / "n_part.parquet")
    assert pq.main(base + ["-t", pqout, "--partition-by",
                           "n_regionkey", q]) == 0
    assert any(e.startswith("n_regionkey=") for e in os.listdir(pqout))
    got = sorted(r.n_nationkey for r in
                 spark.read.option("basePath", pqout)
                 .parquet(pqout).collect())
    assert got == list(range(25))

    # iceberg identity spec + pruned read; --append inherits
    iout = str(tmp_path / "n.iceberg")
    assert pq.main(base + ["-t", iout, "--partition-by", "n_regionkey",
                           q + " | filter n_regionkey <= 2"]) == 0
    assert pq.main(base + ["-t", iout, "--append",
                           q + " | filter n_regionkey > 2"]) == 0
    assert sorted(r.n_nationkey for r in
                  read_source(spark, iout).collect()) == list(range(25))
    assert read_iceberg(spark, iout, where="n_regionkey = 4").count() \
        == 5

    # xml has no partition concept: loud one-line error, exit 1
    assert pq.main(base + ["-t", str(tmp_path / "n.xml"),
                           "--partition-by", "n_regionkey", q]) == 1


def test_cli_avro_roundtrip(spark, tmp_path, sf_dir):
    """`--to out.avro` then `-f out.avro` both work jar-less: the CLI
    writes with the pure-Python container encoder and scans it back
    through the mapInPandas decoder."""
    import pq
    from prql_query_spark.engine.sources import read_source

    out = str(tmp_path / "out.avro")
    rc = pq.main([
        "-f", f"r={sf_dir}/region.parquet", "-t", out,
        "from r | select [r_regionkey, r_name] | sort [r_regionkey]",
    ])
    assert rc == 0
    got = sorted((r.r_regionkey, r.r_name)
                 for r in read_source(spark, out).collect())
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    want = sorted((r.r_regionkey, r.r_name)
                  for r in src.select("r_regionkey", "r_name").collect())
    assert got == want


def test_cli_reads_delta_source(spark, tmp_path, sf_dir):
    """`-f t=/path/table.delta` registers a jar-less Delta table as a
    PRQL source — the full CLI read path over the pure-Python log."""
    import pq
    from prql_query_spark.engine.deltalog import write_delta

    table = str(tmp_path / "r.delta")
    write_delta(spark.read.parquet(f"{sf_dir}/region.parquet"), table)
    out = str(tmp_path / "back.csv")
    rc = pq.main([
        "-f", f"t={table}", "-t", out,
        "from t | select [r_regionkey, r_name] | sort [r_regionkey] | take 3",
    ])
    assert rc == 0
    lines = open(out).read().strip().splitlines()
    assert lines[0].replace('"', "") == "r_regionkey,r_name"
    assert len(lines) == 4


def test_int_sum_cast_duckdb_dialect(con):
    """DuckDB SUM(int) is HUGEINT -> Arrow decimal128(38,0), which fails the
    driver's typed value-hash against Spark's BIGINT even when every value is
    equal (the entire round-3 red class).  The duckdb dialect must pin
    statically-integer SUMs to BIGINT; the spark dialect must not."""
    prql = """
from orders
group [o_orderstatus] (
    aggregate [hi = sum (case [o_totalprice > 100000 -> 1, true -> 0])]
)
sort [o_orderstatus]
"""
    dsql = compile_prql(prql, "duckdb")
    assert "CAST(SUM(CASE" in dsql and "AS BIGINT)" in dsql
    ssql = compile_prql(prql, "spark")
    assert "CAST(SUM" not in ssql
    # and the emitted SQL really comes back int64, not decimal128
    tbl = con.execute(dsql).arrow()
    import pyarrow as pa
    assert tbl.schema.field("hi").type == pa.int64()


def test_int_sum_cast_wraps_window_not_core(con):
    """In window context the BIGINT cast must wrap `SUM(..) OVER (..)`,
    not the SUM core (CAST(SUM(x) AS BIGINT) OVER () is invalid SQL)."""
    prql = """
from orders
derive [n_hi = sum (case [o_totalprice > 100000 -> 1, true -> 0])]
select [o_orderkey, n_hi]
take 3
"""
    dsql = compile_prql(prql, "duckdb")
    assert "AS BIGINT)" in dsql
    assert "AS BIGINT) OVER" not in dsql  # cast outside the OVER clause
    con.execute(dsql).fetchall()  # must be executable


def test_int_sum_no_cast_for_unknown_column_type():
    """Conservative inference: a raw column ref of unknown type must NOT be
    cast (summing doubles through a BIGINT cast would corrupt values)."""
    sql = compile_prql("from orders | aggregate [t = sum o_totalprice]", "duckdb")
    assert "CAST(SUM" not in sql


def test_cli_glob_sources_and_schema(spark, tmp_path, capsys):
    """Two reference-TODO deliveries (TODO.md:38-39): glob patterns in
    --from (view named after the glob's parent directory) and a
    user-supplied --schema DDL for csv/ndjson replacing inference; a
    --schema on a self-describing format errors loudly."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    import pq

    shard = tmp_path / "shard"
    shard.mkdir()
    papq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}),
                     str(shard / "p1.parquet"))
    papq.write_table(pa.table({"a": [3], "b": ["z"]}),
                     str(shard / "p2.parquet"))
    rc = pq.main(["-f", f"{shard}/*.parquet",
                  "from shard | aggregate [n = count, mx = max a]"])
    out = capsys.readouterr().out
    assert rc == 0 and "| 3 " in out and "| 3 |" in out  # both files scanned

    csv = tmp_path / "d.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    rc = pq.main(["--schema", "a BIGINT, b STRING", "-f", f"d={csv}",
                  "from d | derive [a2 = a * 10] | sort [a]"])
    out = capsys.readouterr().out
    assert rc == 0 and "| 20 " in out  # arithmetic on the DECLARED bigint

    from prql_query_spark.engine.sources import SourceError

    with pytest.raises(SourceError, match="self-describing"):
        pq.main(["--schema", "x INT", "-f", f"p={shard}/p1.parquet",
                 "from p | take 1"])

    # mixed source list (round-6 ADVICE): the schema applies to the csv
    # and leaves the self-describing parquet alone — a csv joined against
    # a parquet is the normal case, not an error
    rc = pq.main(["--schema", "a BIGINT, b STRING",
                  "-f", f"d={csv}", "-f", f"p={shard}/p1.parquet",
                  "from d | join p [a] | aggregate [n = count]"])
    out = capsys.readouterr().out
    assert rc == 0 and "| 2 " in out


def test_cloud_scheme_guard_names_the_fix(spark):
    """s3://gs://abfs:// paths probe for the filesystem connector class
    and fail with the jar named (reference TODO.md:43) instead of a Java
    stack trace; local paths are untouched by the guard."""
    from prql_query_spark.engine.sources import SourceError, read_source

    with pytest.raises(SourceError, match="S3AFileSystem"):
        read_source(spark, "s3://bucket/data.parquet")
    with pytest.raises(SourceError, match="GoogleHadoopFileSystem"):
        read_source(spark, "gs://bucket/data.parquet")


def test_approx_percentile_fn(spark, sf_dir):
    """`approx_percentile` (round 6): the sketch-based quantile spelling —
    Spark APPROX_PERCENTILE, DuckDB approx_quantile (t-digest).  The two
    sketches differ, so this must NEVER sit in an exact-hash oracle row;
    the contract tested here is that on EACH engine the approx result
    lands within 2% of that engine's own exact percentile."""
    import os

    import duckdb

    from prql_query_spark import compile_prql

    prql = """
from orders
group [o_orderstatus] (aggregate [p50 = approx_percentile 0.5 o_totalprice])
sort [o_orderstatus]
"""
    exact = prql.replace("approx_percentile", "percentile")

    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")) \
        .createOrReplaceTempView("orders")
    sp = {r[0]: (r[1], e[1]) for r, e in zip(
        spark.sql(compile_prql(prql, "spark")).collect(),
        spark.sql(compile_prql(exact, "spark")).collect())}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                f"'{os.path.join(sf_dir, 'orders.parquet')}'")
    du = {r[0]: (r[1], e[1]) for r, e in zip(
        con.execute(compile_prql(prql, "duckdb")).fetchall(),
        con.execute(compile_prql(exact, "duckdb")).fetchall())}
    con.close()
    assert set(sp) == set(du) and len(sp) >= 2
    for eng in (sp, du):
        for status, (approx, ex) in eng.items():
            assert abs(approx - ex) <= 0.02 * max(abs(ex), 1.0), \
                (status, approx, ex)


def test_approx_count_distinct_fn(spark, sf_dir):
    """`approx_count_distinct` (round 7): the sketch cardinality
    spelling — Spark HLL++ vs DuckDB HLL, different sketches, so never
    an exact-hash value.  Contract: on EACH engine the estimate lands
    within 5% of that engine's own exact count-distinct (5% = Spark's
    default rsd parameter; observed 2.65% Spark / 0.5% DuckDB on the
    fixtures)."""
    import os

    import duckdb

    from prql_query_spark import compile_prql

    prql = """
from lineitem
group [l_returnflag] (aggregate [n = approx_count_distinct l_partkey])
sort [l_returnflag]
"""
    exact = prql.replace("approx_count_distinct", "count_distinct")

    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")) \
        .createOrReplaceTempView("lineitem")
    sp = {r[0]: (r[1], e[1]) for r, e in zip(
        spark.sql(compile_prql(prql, "spark")).collect(),
        spark.sql(compile_prql(exact, "spark")).collect())}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{os.path.join(sf_dir, 'lineitem.parquet')}'")
    du = {r[0]: (r[1], e[1]) for r, e in zip(
        con.execute(compile_prql(prql, "duckdb")).fetchall(),
        con.execute(compile_prql(exact, "duckdb")).fetchall())}
    con.close()
    assert set(sp) == set(du) and len(sp) >= 2
    for eng in (sp, du):
        for flag, (approx, ex) in eng.items():
            assert abs(approx - ex) <= 0.05 * max(ex, 1), (flag, approx, ex)


def test_source_time_travel_suffix(spark, tmp_path):
    """`path@N` on a lakehouse directory source pins the read: delta
    version / iceberg snapshot N, through the CLI source layer.  A
    literal file containing '@' keeps working, and @N on a non-
    lakehouse source errors loudly."""
    import pytest as _pytest

    from prql_query_spark.engine.deltalog import write_delta
    from prql_query_spark.engine.iceberg import write_iceberg
    from prql_query_spark.engine.sources import SourceError, read_source

    one = spark.createDataFrame([(1,)], "id long")
    two = spark.createDataFrame([(2,)], "id long")

    dd = str(tmp_path / "t.delta")
    write_delta(one, dd)                       # v0
    write_delta(two, dd, mode="append")        # v1
    assert sorted(r.id for r in read_source(spark, dd).collect()) == [1, 2]
    assert [r.id for r in read_source(spark, dd + "@0").collect()] == [1]

    di = str(tmp_path / "t.iceberg")
    write_iceberg(one, di)                     # snap 1
    write_iceberg(two, di, mode="append")      # snap 2
    assert [r.id for r in read_source(spark, di + "@1").collect()] == [1]
    assert sorted(r.id for r in
                  read_source(spark, di + "@2").collect()) == [1, 2]

    # a real file whose NAME contains @ still reads as itself
    lit = str(tmp_path / "odd@2.parquet")
    one.write.parquet(lit)
    assert [r.id for r in read_source(spark, lit).collect()] == [1]

    # @N on a non-lakehouse dir: loud error, not a silent full read
    pq = str(tmp_path / "plain.parquet")
    two.write.parquet(pq)
    with _pytest.raises(SourceError):
        read_source(spark, pq + "@0")
