"""Property-based differential testing: random PRQL expressions compiled
from ONE source to BOTH dialects, executed on Spark and DuckDB, values
compared row-for-row.

This is the adversarial version of the fixed query corpus — hypothesis
explores operator precedence, null propagation, and case/boolean corners
the hand-written queries don't.  The grammar is kept inside the
ANSI-mode-safe subset (no division, bounded literals) so a mismatch means a
compiler bug, not an engine-semantics difference.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from prql_query_spark import compile_prql

INT_COLS = ["n_nationkey", "n_regionkey"]
STR_COLS = ["n_name"]


def _ints(depth: int) -> st.SearchStrategy[str]:
    base = st.sampled_from(INT_COLS) | st.integers(-20, 20).map(str)
    if depth <= 0:
        return base
    sub = _ints(depth - 1)
    binop = st.tuples(sub, st.sampled_from(["+", "-", "*"]), sub).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    )
    case = st.tuples(_bools(depth - 1), sub, sub).map(
        lambda t: f"case [{t[0]} -> {t[1]}, true -> {t[2]}]"
    )
    return base | binop | case


def _bools(depth: int) -> st.SearchStrategy[str]:
    cmp_ = st.tuples(
        _ints(0), st.sampled_from(["==", "!=", "<", "<=", ">", ">="]), _ints(0)
    ).map(lambda t: f"({t[0]} {t[1]} {t[2]})")
    if depth <= 0:
        return cmp_
    sub = _bools(depth - 1)
    logic = st.tuples(sub, st.sampled_from(["and", "or"]), sub).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    )
    neg = sub.map(lambda b: f"not {b}")
    return cmp_ | logic | neg


@pytest.fixture(scope="module")
def engines(spark, sf_dir):
    import __spark_entry__ as entry

    entry._reg(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{sf_dir}/nation.parquet'"
    )
    return spark, con


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(expr=_ints(3))
def test_random_int_expressions_match(engines, expr):
    spark, con = engines
    prql = (
        f"from nation | derive [e = {expr}] "
        f"| select [n_nationkey, e] | sort [n_nationkey]"
    )
    spark_rows = [
        (r.n_nationkey, r.e)
        for r in spark.sql(compile_prql(prql, "spark")).collect()
    ]
    duck_rows = [
        (int(k), int(e) if e is not None else None)
        for k, e in con.execute(compile_prql(prql, "duckdb")).fetchall()
    ]
    assert spark_rows == duck_rows, f"expr: {expr}"


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cond=_bools(2))
def test_random_filters_match(engines, cond):
    spark, con = engines
    prql = f"from nation | filter {cond} | select [n_nationkey] | sort [n_nationkey]"
    spark_rows = [r.n_nationkey for r in
                  spark.sql(compile_prql(prql, "spark")).collect()]
    duck_rows = [int(k) for (k,) in
                 con.execute(compile_prql(prql, "duckdb")).fetchall()]
    assert spark_rows == duck_rows, f"cond: {cond}"


def _floats(depth: int):
    """Float expression trees over n_nationkey: +, -, *, sqrt(abs(.)),
    and float literals — the operand mix that feeds `round`."""
    lit = st.sampled_from(
        ["0.1", "0.25", "1.5", "2.7182818", "3.3333333", "0.005"]
    )
    base = st.sampled_from(["n_nationkey"]) | lit
    if depth <= 0:
        return base
    sub = _floats(depth - 1)
    arith = st.tuples(sub, st.sampled_from(["+", "-", "*"]), sub).map(
        lambda t: f"({t[0]} {t[1]} {t[2]})"
    )
    root = sub.map(lambda e: f"(sqrt (abs {e}))")
    return base | arith | root


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(expr=_floats(3), digits=st.integers(min_value=0, max_value=6))
def test_random_round_float_expressions_match_exactly(engines, expr, digits):
    """EXACT float equality across dialects for `round d (float expr)`:
    the decimal-exact ROUND emission must HALF_UP at the same digit in
    both engines for any operand shape (regression surface of the round-1
    q_scalar_funcs hash mismatch — Spark's BigDecimal round vs DuckDB's
    binary-FP round diverged by one ulp on .5*10^-n boundaries)."""
    spark, con = engines
    prql = (
        f"from nation | derive [e = round {digits} ({expr})] "
        f"| select [n_nationkey, e] | sort [n_nationkey]"
    )
    spark_rows = [
        (r.n_nationkey, r.e)
        for r in spark.sql(compile_prql(prql, "spark")).collect()
    ]
    duck_rows = [
        (int(k), float(e) if e is not None else None)
        for k, e in con.execute(compile_prql(prql, "duckdb")).fetchall()
    ]
    assert spark_rows == duck_rows, f"expr: round {digits} ({expr})"


# ---------------------------------------------------------------------------
# Avro codec property: encode->decode is the identity for arbitrary
# records under a schema covering every branch the codec implements
# (nullable unions, nested records, arrays, maps, enums, all scalars,
# both codecs).  Pure-Python — no Spark session involved.

_AVRO_SCHEMA = {
    "type": "record", "name": "doc", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "raw", "type": "bytes"},
        {"name": "kind", "type": {"type": "enum", "name": "k",
                                  "symbols": ["A", "B", "C"]}},
        {"name": "tags", "type": {"type": "array",
                                  "items": ["null", "string"]}},
        {"name": "props", "type": {"type": "map", "values": "int"}},
        {"name": "sub", "type": {"type": "record", "name": "s", "fields": [
            {"name": "x", "type": "int"},
            {"name": "y", "type": ["null", "double"]},
        ]}},
    ],
}

_text = st.text(max_size=30)
_record = st.fixed_dictionaries({
    "id": st.integers(min_value=-(2**62), max_value=2**62),
    "name": st.none() | _text,
    "score": st.floats(allow_nan=False, allow_infinity=False, width=64),
    "flag": st.booleans(),
    "raw": st.binary(max_size=20),
    "kind": st.sampled_from(["A", "B", "C"]),
    "tags": st.lists(st.none() | _text, max_size=5),
    "props": st.dictionaries(_text, st.integers(-2**30, 2**30), max_size=4),
    "sub": st.fixed_dictionaries({
        "x": st.integers(-2**31, 2**31 - 1),
        "y": st.none() | st.floats(allow_nan=False, allow_infinity=False,
                                   width=64),
    }),
})


@settings(max_examples=200, deadline=None)
@given(records=st.lists(_record, max_size=8),
       codec=st.sampled_from(["null", "deflate"]))
def test_avro_codec_roundtrip_property(records, codec):
    from prql_query_spark.engine.avro import decode_container, encode_container

    blob = encode_container(_AVRO_SCHEMA, records, codec=codec)
    schema, back = decode_container(blob)
    assert schema == _AVRO_SCHEMA
    assert back == records


# ---------------------------------------------------------------------------
# Canonicalizer idempotence: canonicalize(canonicalize(x)) == canonicalize(x).
# A canonical form that moves on re-application isn't canonical — dedup keys
# built from it would split. One Spark pass evaluates both applications.

_url_chars = st.text(
    alphabet="abcXYZ019-._~", min_size=0, max_size=8)


@st.composite
def _messy_urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTPS", "ftp"]))
    host_bits = draw(st.lists(_url_chars.filter(bool), min_size=1, max_size=3))
    host = ".".join(host_bits)
    www = draw(st.sampled_from(["", "www.", "WWW."]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    path = draw(st.sampled_from(["", "/", "/a", "//a//b/", "/a/b.html"]))
    params = draw(st.lists(st.sampled_from(
        ["utm_source=x", "id=1", "fbclid=z", "q=a", "utm_medium=m", "ref=r"]),
        max_size=4))
    qs = ("?" + "&".join(params)) if params else ""
    frag = draw(st.sampled_from(["", "#f", "#sec1"]))
    return f"{scheme}://{www}{host}{port}{path}{qs}{frag}"


@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(urls=st.lists(_messy_urls(), min_size=1, max_size=20))
def test_canonicalizers_idempotent(spark, urls):
    from pyspark.sql import functions as F

    from prql_query_spark.operators.text import normalize_text, scrub_pii
    from prql_query_spark.operators.web import canonicalize_url

    df = spark.createDataFrame([(u,) for u in urls], "u string")
    once = canonicalize_url(F.col("u"))
    bad = df.select(once.alias("c1"), canonicalize_url(once).alias("c2")) \
        .filter("c1 <> c2")
    assert bad.count() == 0, bad.limit(3).collect()

    texts = [u.replace("://", " at ") + " bob@x.com +1 (555) 123-4567"
             for u in urls]
    tdf = spark.createDataFrame([(t,) for t in texts], "t string")
    for fn in (normalize_text, scrub_pii):
        one = fn(F.col("t"))
        bad = tdf.select(one.alias("c1"), fn(one).alias("c2")) \
            .filter("c1 <> c2")
        assert bad.count() == 0, (fn.__name__, bad.limit(3).collect())


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    scores=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False,
                  allow_infinity=False),
        min_size=4, max_size=40),
    labels=st.lists(st.booleans(), min_size=4, max_size=40),
    cuts=st.lists(
        st.floats(min_value=-10, max_value=10, allow_nan=False,
                  allow_infinity=False),
        min_size=1, max_size=9),
)
def test_roc_auc_bucketed_bound_property(spark, scores, labels, cuts):
    """Adversarial check of the bucketed AUC's self-reported bound: for
    ANY scores, labels, and cut list (unsorted, duplicated, off-grid —
    the docstring claims validity for ANY cuts), the exact rank-path
    AUC lies within err_bound of the bucketed estimate (plus the 1e-6
    DECIMAL-6 rounding slack each side carries)."""
    from prql_query_spark.operators.analytics import (
        roc_auc, roc_auc_bucketed)

    n = min(len(scores), len(labels))
    rows = [(float(s), bool(y))
            for s, y in zip(scores[:n], labels[:n])]
    # both classes must be present, else both paths return empty
    if len({y for _, y in rows}) < 2:
        rows += [(0.0, True), (0.0, False)]
    df = spark.createDataFrame(rows, "score double, y boolean")
    exact = roc_auc(df, "score", "y").first()
    buck = roc_auc_bucketed(df, "score", "y", cuts=list(cuts)).first()
    assert (exact["n_pos"], exact["n_neg"]) == \
        (buck["n_pos"], buck["n_neg"])
    assert abs(exact["auc"] - buck["auc"]) <= buck["err_bound"] + 3e-6, \
        (rows, list(cuts), exact, buck)


# ---------------------------------------------------------------------------
# Row-level MERGE differential (r11): both engines' upserts must equal
# the reference semantics computed in plain Python — final state =
# (target rows whose key is NOT in the source key set) + every source
# row verbatim; NULL keys never match (SQL join semantics), duplicate
# target copies of a matched key all go, duplicate source copies all
# land.  One randomized frame pair exercises empty targets, empty
# sources, all-matched, none-matched, and null keys in one sweep.
_key = st.one_of(st.none(), st.integers(min_value=0, max_value=12))
_row = st.tuples(_key, st.text(alphabet="abc", min_size=0, max_size=3))


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(target=st.lists(_row, max_size=10), source=st.lists(_row, max_size=6))
def test_merge_upsert_matches_reference_semantics(spark, target, source):
    import tempfile
    from collections import Counter

    from prql_query_spark.engine.deltalog import (
        merge_delta, read_delta_snapshot, write_delta)
    from prql_query_spark.engine.iceberg import (
        merge_iceberg, read_iceberg, write_iceberg)

    schema = "id long, v string"
    src_keys = {k for k, _ in source if k is not None}
    expected = Counter(
        [t for t in target if t[0] is None or t[0] not in src_keys]
        + source)

    root = tempfile.mkdtemp(prefix="pq_prop_merge_")
    t_df = spark.createDataFrame(target, schema)
    s_df = spark.createDataFrame(source, schema)

    ice = root + "/ice"
    write_iceberg(t_df, ice)
    merge_iceberg(spark, ice, s_df, on=["id"])
    got_ice = Counter((r.id, r.v) for r in read_iceberg(spark, ice).collect())
    assert got_ice == expected, (target, source, got_ice)

    dlt = root + "/dlt"
    write_delta(t_df, dlt)
    merge_delta(spark, dlt, s_df, on=["id"])
    got_dlt = Counter(
        (r.id, r.v) for r in read_delta_snapshot(spark, dlt).collect())
    assert got_dlt == expected, (target, source, got_dlt)


_cmp = st.sampled_from(["<", "<=", "=", ">=", ">"])
_lit = st.integers(-55, 55)
_atom = st.one_of(
    st.builds("{} {} {}".format, st.sampled_from(["a", "b"]), _cmp, _lit),
    st.builds("{} {} b".format, _lit, _cmp),
    st.builds("a BETWEEN {} AND {}".format, _lit, _lit),
    st.builds("p = '{}'".format, st.sampled_from("xyz")),
    st.just("p IN ('x', 'y')"),
    st.just("p IS NULL"))
# unparenthesized AND/OR mixes exercise operator precedence
_pred = st.recursive(_atom, lambda inner: st.one_of(
    st.builds("{} AND {}".format, inner, inner),
    st.builds("{} OR {}".format, inner, inner),
    st.builds("NOT ({})".format, inner),
    st.builds("({})".format, inner)), max_leaves=5)
_file = st.tuples(
    st.sampled_from(["x", "y", None]),                # partition value p
    st.lists(st.tuples(st.integers(-50, 50), st.integers(-50, 50)),
             min_size=1, max_size=5),                 # rows (a, b)
    st.booleans())                                    # has stats


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(files=st.lists(_file, min_size=1, max_size=6), where=_pred)
def test_keep_files_never_overprunes(spark, files, where):
    """SOUNDNESS of the file-skipping engine (engine/pruning.py), the
    one property that must never break: every file holding at least
    one row that Spark's own filter keeps MUST survive keep_files —
    over-pruning is a silent-wrong-rows bug.  Files are partitioned by
    ``p``, with or without (a, b) stats; predicates mix AND, OR, NOT,
    parentheses and BETWEEN.  (Completeness — skipping as much as
    possible — is an optimization, deliberately not asserted.)"""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    from prql_query_spark.engine.pruning import keep_files

    rows, meta = [], {}
    for i, (p, file_rows, has_stats) in enumerate(files):
        rows += [{"f": f"f{i}", "p": p, "a": a, "b": b} for a, b in file_rows]
        a, b = zip(*file_rows)
        bounds = ({"a": min(a), "b": min(b)}, {"a": max(a), "b": max(b)})
        meta[f"f{i}"] = ({"p": p}, *(bounds if has_stats else (None, None)))
    table = spark.createDataFrame(pa.Table.from_pylist(rows, schema=pa.schema(
        [("f", pa.string()), ("p", pa.string()),
         ("a", pa.int64()), ("b", pa.int64())])))
    must_keep = {r.f for r in table.filter(where).select("f").collect()}

    keep = keep_files(spark, StructType.fromDDL("p string, a long, b long"),
                      ["p"], meta, where)
    if keep is None:
        return  # no skipping attempted: trivially sound
    assert must_keep <= keep, (where, files, sorted(keep))
