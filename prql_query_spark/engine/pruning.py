"""Which data files can hold rows matching a `where=` predicate: the one
file-skipping decision of the jar-less Iceberg and Delta readers
(`keep_files`), and the footer statistics their writers record
(`footer_bounds`).  Strictly an optimization layer: callers ALWAYS
re-apply the predicate as a row filter, and every code path here is
built to only ever keep too many files, never too few.

Only types whose parquet footer statistics are exact and timezone-free
carry bounds (int/long/float/double/date): string min/max may be
truncated by the writer, and timestamp stats are zone-adjusted — both
would risk skipping a file that holds matching rows.  Partition values
come from table metadata, which is exact for strings too.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
from pyspark.errors import PySparkException
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType, DataType, DateType, DoubleType, FloatType, IntegerType,
    LongType, StringType, StructField, StructType,
)

BOUND_TYPES = (IntegerType, LongType, FloatType, DoubleType, DateType)
PARTITION_TYPES = BOUND_TYPES + (StringType,)

# comparison class -> the (bound, op) tests a file passes when it can
# hold rows of `col <op> lit`, then of `lit <op> col`
_BOUND_TESTS = {
    "EqualTo": ([("lo", "<="), ("hi", ">=")],) * 2,
    "LessThan": ([("lo", "<")], [("hi", ">")]),
    "LessThanOrEqual": ([("lo", "<=")], [("hi", ">=")]),
    "GreaterThan": ([("hi", ">")], [("lo", "<")]),
    "GreaterThanOrEqual": ([("hi", ">=")], [("lo", "<=")]),
}


def footer_bounds(md) -> tuple[dict, dict, dict]:
    """(lower, upper, null_count) per column from one parquet footer —
    typed Python values, zero extra I/O beyond the metadata object the
    caller already holds.  A column qualifies for bounds only when
    EVERY row group reports exact min/max of a safe type; null counts
    require every row group to report one."""
    agg: dict[str, list] = {}
    nulls: dict[str, int] = {}
    dropped: set[str] = set()
    null_dropped: set[str] = set()
    for rg in range(md.num_row_groups):
        row = md.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            if "." in name:
                continue
            st = col.statistics
            if name not in null_dropped:
                if st is not None and st.null_count is not None:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                else:
                    null_dropped.add(name)
                    nulls.pop(name, None)
            if name in dropped:
                continue
            if st is None or not st.has_min_max:
                dropped.add(name)
                agg.pop(name, None)
                continue
            mn, mx = st.min, st.max
            ok = (
                (type(mn) in (int, float) and type(mx) in (int, float))
                or (isinstance(mn, datetime.date)
                    and not isinstance(mn, datetime.datetime)
                    and isinstance(mx, datetime.date)
                    and not isinstance(mx, datetime.datetime)))
            if not ok:
                dropped.add(name)
                agg.pop(name, None)
                continue
            cur = agg.get(name)
            if cur is None:
                agg[name] = [mn, mx]
            else:
                cur[0] = min(cur[0], mn)
                cur[1] = max(cur[1], mx)
    return ({k: v[0] for k, v in agg.items()},
            {k: v[1] for k, v in agg.items()},
            nulls)


def keep_files(
    spark: SparkSession,
    schema: StructType,
    part_cols: list[str],
    files: dict[str, tuple],
    where: str,
) -> set[str] | None:
    """The keys of ``files`` that can hold rows matching ``where``, or
    None when no conjunct of ``where`` is usable (callers then skip
    nothing).  ``files`` maps each key to (partition values, lower
    bounds, upper bounds): column -> value maps (None when absent) of
    typed values or their Delta / Iceberg encodings (`_decode`).

    Spark's parser splits ``where`` into its top-level AND conjuncts.
    A deterministic conjunct over the ``part_cols`` of PARTITION_TYPES
    alone is evaluated exactly on each file whose partition values all
    decode (other files pass it).  A `column <op> literal` conjunct over
    another column of BOUND_TYPES is tested against each file's [min,
    max]; a missing or undecodable bound passes.  Other conjuncts are
    ignored.  One filter over one local frame, a row per file, runs
    every test; any error falls back to None."""
    types = {f.name: f.dataType for f in schema.fields}
    parts = [c for c in part_cols if isinstance(types.get(c), PARTITION_TYPES)]
    part_frame = spark.createDataFrame(
        [], StructType([StructField(c, types[c], True) for c in parts]))
    stats = {c for c, t in types.items()
             if c not in part_cols and isinstance(t, BOUND_TYPES)}
    tests, bounded = [], []
    for e in _conjuncts(spark, where):
        if all(n in parts for n in _attribute_names(e)):
            # it must analyze on the partition columns; a per-file
            # `rand() < 0.5` would drop files the row filter keeps
            try:
                if part_frame.filter(e.sql())._jdf.queryExecution() \
                        .analyzed().condition().deterministic():
                    tests.append(f"(NOT _pq_known OR ({e.sql()}))")
            except PySparkException:
                pass
        elif (cmp := _comparison(e, stats)) is not None:
            col, bound_tests, lit = cmp
            if col not in bounded:
                bounded.append(col)
            i = bounded.index(col)
            tests += [f"(_pq_{b}{i} IS NULL OR _pq_{b}{i} {op} {lit})"
                      for b, op in bound_tests]
    if not tests:
        return None

    rows = []
    for key, (pv, lo, hi) in files.items():
        try:
            row = [key, True] + [_decode(pv[c], types[c]) for c in parts]
        except (KeyError, TypeError, ValueError, OverflowError):
            row = [key, False] + [None] * len(parts)
        for c in bounded:
            row += [_bound(lo, c, types[c]), _bound(hi, c, types[c])]
        rows.append(row)
    frame_schema = StructType(
        [StructField("_pq_file", StringType(), False),
         StructField("_pq_known", BooleanType(), False)]
        + part_frame.schema.fields
        + [StructField(f"_pq_{b}{i}", types[c], True)
           for i, c in enumerate(bounded) for b in ("lo", "hi")])
    try:
        # from Arrow, the frame is a LocalRelation: the optimizer folds
        # the filter into it and the collect runs no Spark job
        frame = spark.createDataFrame(pa.Table.from_pylist(
            [dict(zip(frame_schema.names, r)) for r in rows]), frame_schema)
        return {r[0] for r in frame.filter(" AND ".join(tests))
                .select("_pq_file").collect()}
    except (PySparkException, pa.ArrowException):
        return None


def _conjuncts(spark: SparkSession, where: str) -> list:
    """``where``'s top-level AND conjuncts, parsed (none if it fails)."""
    try:
        stack = [spark._jsparkSession.sessionState().sqlParser()
                 .parseExpression(where)]
    except PySparkException:
        return []
    out = []
    while stack:
        e = stack.pop()
        if e.getClass().getSimpleName() == "And":
            stack += [e.right(), e.left()]
        else:
            out.append(e)
    return out


def _attribute_names(e) -> list[str | None]:
    """The column names ``e`` references; None for one like ``t.c``."""
    names, stack = [], [e]
    while stack:
        x = stack.pop()
        if x.getClass().getSimpleName() == "UnresolvedAttribute":
            parts = x.nameParts()
            names.append(parts.apply(0) if parts.length() == 1 else None)
        else:
            ch = x.children()
            stack += [ch.apply(i) for i in range(ch.size())]
    return names


def _comparison(e, stats: set) -> tuple[str, list, str] | None:
    """(column, bound tests, literal SQL) if ``e`` is `col <op> lit`."""
    tests = _BOUND_TESTS.get(e.getClass().getSimpleName())
    if tests is None:
        return None
    col, lit = e.left(), e.right()
    kinds = (col.getClass().getSimpleName(), lit.getClass().getSimpleName())
    if kinds == ("Literal", "UnresolvedAttribute"):
        col, lit, tests = lit, col, tests[::-1]
    elif kinds != ("UnresolvedAttribute", "Literal"):
        return None
    name = col.nameParts()
    if name.length() != 1 or name.apply(0) not in stats:
        return None
    return name.apply(0), tests[0], lit.sql()


def _bound(bounds: dict | None, col: str, typ: DataType):
    try:
        return _decode((bounds or {}).get(col), typ)
    except (AttributeError, TypeError, ValueError, OverflowError):
        return None


def _decode(v, typ: DataType):
    """``v`` as a Python value of ``typ``: the one decoder of Delta stats
    JSON and partitionValues, Iceberg manifest bound strings and
    partition values (dates as days since the epoch), and typed values.
    Raises TypeError or ValueError when ``v`` does not decode, NaN too."""
    if v is None:
        return None
    if isinstance(typ, StringType):
        return str(v)
    if isinstance(typ, DateType):
        if isinstance(v, int):
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
        return datetime.date.fromisoformat(str(v)[:10])
    if isinstance(typ, (IntegerType, LongType)):
        return int(v)
    if isinstance(typ, (FloatType, DoubleType)):
        f = float(v)
        if f != f:
            raise ValueError("NaN bound")
        return f
    raise TypeError(f"no file skipping on {typ.simpleString()}")
