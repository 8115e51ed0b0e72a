"""Arrow-type audit of every DuckDB oracle — no Spark session needed.

The driver's correctness gate hashes TYPED cells via Arrow.  DuckDB promotes
SUM(INTEGER/BIGINT) to HUGEINT, which exports as decimal128(38,0) and fails
the hash against Spark's BIGINT even when every value is equal — the entire
round-3 red class (6 driver reds) plus 3 more latent rows this audit caught
the day it was written (x_stratified_sample, x_sessionize,
x_token_length_summary).

Rule enforced here: NO oracle may return a decimal column.  The repo's FP
convention (FIXTURES.md) pins money to DOUBLE via integer-cents; counts to
BIGINT via CAST; so any decimal that reaches the output schema is an un-cast
integer SUM (or similar promotion) waiting to go red when it rotates into
the driver window.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pytest

import __spark_entry__ as entrymod

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def con():
    if not os.path.isdir(SF):
        pytest.skip(f"fixture dir {SF} absent (set SPARK_GRAFT_ORACLE_SF)")
    missing = [
        t for t in entrymod.TABLES
        if not os.path.exists(os.path.join(SF, f"{t}.parquet"))
    ]
    # a partially-populated dir would make oracles fail with misleading
    # missing-table errors — fail loudly here instead
    assert not missing, f"fixture dir {SF} is missing tables: {missing}"
    c = duckdb.connect()
    for t in entrymod.TABLES:
        p = os.path.join(SF, f"{t}.parquet")
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return c


def _result_schema(con, sql):
    """Arrow output schema of ``sql`` without computing its rows: DuckDB
    fixes result types when it binds the query, so LIMIT 0 reports the
    same types as the full result."""
    return con.execute(f"SELECT * FROM ({sql}) LIMIT 0").arrow().schema


@pytest.fixture(scope="module")
def oracle_schemas(con):
    """name -> Arrow output schema of every oracle, shared by the audits
    below."""
    return {name: _result_schema(con, sql)
            for name, sql in entrymod.oracle_sql().items()}


def test_no_oracle_returns_decimal(oracle_schemas):
    assert oracle_schemas, "oracle_sql() is empty?"
    offenders = []
    for name, schema in oracle_schemas.items():
        for f in schema:
            if pa.types.is_decimal(f.type):
                offenders.append((name, f.name, str(f.type)))
    assert not offenders, (
        "oracle columns with decimal Arrow types (un-cast integer SUM?): "
        f"{offenders}"
    )


def test_gate_would_catch_uncast_int_sum(con):
    """Negative control: prove the audit actually fires on the bug shape,
    both on the full result and through the audit's LIMIT 0 path."""
    sql = ("SELECT SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS n "
           "FROM orders")
    tbl = con.execute(sql).arrow()
    assert pa.types.is_decimal(tbl.schema.field("n").type)
    assert pa.types.is_decimal(_result_schema(con, sql).field("n").type)


def test_gate_would_catch_decimal_sum(con):
    """Negative control for the SUM-of-DECIMAL promotion class: DuckDB's
    SUM over a DECIMAL input widens to DECIMAL(38,s) (Spark widens within
    decimal but the repo never emits decimal at all) — the next most
    likely drift class after HUGEINT SUM.  (AVG(DECIMAL) returns DOUBLE in
    DuckDB, so AVG is not a promotion risk — verified, not assumed.)"""
    tbl = con.execute(
        "SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS s FROM orders"
    ).arrow()
    assert pa.types.is_decimal(tbl.schema.field("s").type)
    avg = con.execute(
        "SELECT AVG(CAST(o_totalprice AS DECIMAL(12,2))) AS a FROM orders"
    ).arrow()
    assert pa.types.is_float64(avg.schema.field("a").type)


def test_gate_would_catch_decimal_round(con):
    """Negative control for the ROUND class: round(DECIMAL, n) stays
    DECIMAL in DuckDB, while Spark's round(double) is DOUBLE."""
    tbl = con.execute(
        "SELECT ROUND(CAST(o_totalprice AS DECIMAL(12,2)), 1) AS r "
        "FROM orders LIMIT 1"
    ).arrow()
    assert pa.types.is_decimal(tbl.schema.field("r").type)


def test_no_oracle_returns_float32(oracle_schemas):
    """Spark-side aggregates (avg/round/stddev/sum-of-double) all emit
    float64; a float32 column in an oracle's OUTPUT schema would hash-
    mismatch against it.  Raw embedding payloads are list<float32> by
    design — only flag top-level float32 scalars, which can only come from
    an un-promoted cast."""
    offenders = []
    for name, schema in oracle_schemas.items():
        for f in schema:
            if pa.types.is_float32(f.type):
                offenders.append((name, f.name))
    assert not offenders, f"float32 scalar oracle columns: {offenders}"
