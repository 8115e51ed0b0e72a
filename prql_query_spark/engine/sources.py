"""Source registration: files / directories -> named temp views.

Ports the reference's `standardise_sources` alias rules
(/root/reference/src/main.rs:287-323):
  * `alias=path` splits on the first `=`            (main.rs:293)
  * known extensions: csv json parquet avro        (main.rs:296-299)
  * otherwise the name is a table passthrough       (main.rs:313-316)
  * table name = file stem, spaces -> `_`           (main.rs:301-311)

Registration is lazy and declarative: `spark.read.<fmt>` builds a scan node
only — Catalyst prunes columns and pushes filters into it, so at 100 TB the
scan reads only what the query needs.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

KNOWN_EXTENSIONS = ("csv", "json", "ndjson", "parquet", "avro", "orc", "xml", "delta")


class SourceError(ValueError):
    pass


def infer_format(path: str) -> str | None:
    ext = os.path.splitext(path)[1].lstrip(".").lower()
    if ext == "ndjson":
        return "json"
    return ext if ext in KNOWN_EXTENSIONS else None


def table_name_for(path: str, alias: str | None) -> str:
    if alias:
        return alias
    base = os.path.basename(path.rstrip("/"))
    if any(c in base for c in "*?["):
        # glob source (reference TODO.md:39 "Support globs in --from"):
        # the filename stem would be '*' — name the view after the parent
        # directory instead (`/data/logs/*.parquet` -> `logs`)
        base = os.path.basename(os.path.dirname(path)) or "glob"
        return re.sub(r"\s+", "_", base)
    stem = os.path.splitext(base)[0]
    return re.sub(r"\s+", "_", stem)  # spaces -> _ (main.rs:310)


def standardise_sources(sources: list[str]) -> list[tuple[str, str | None]]:
    """`--from` entries -> (table name, path to read), the one naming rule
    (reference `standardise_sources`, main.rs:287-323): the alias; else,
    for an unknown extension, the entry itself as a passthrough table that
    already exists (path None); else the file stem."""
    out: list[tuple[str, str | None]] = []
    for src in sources:
        alias, path = src.split("=", 1) if "=" in src else (None, src)
        if alias is None and infer_format(path) is None:
            out.append((path, None))
        else:
            out.append((table_name_for(path, alias), path))
    return out


def read_source(spark: SparkSession, path: str, fmt: str | None = None,
                schema: str | None = None) -> DataFrame:
    """schema: optional DDL string ("a INT, b STRING") applied to csv/ndjson
    sources INSTEAD of inference — the reference's unshipped `--schema`
    argument (TODO.md:38).  Inference reads the data twice and guesses
    (ints that later turn string, timestamp formats); a declared schema is
    one pass and exact, which is also the only viable mode at 100 TB.

    Time travel: a ``table@N`` suffix on a lakehouse DIRECTORY source
    pins the read to delta version / iceberg snapshot N
    (``-f o=warehouse/orders.iceberg@2``).  Parsed only when the
    literal path does not exist AND the base is a recognizable
    delta/iceberg table, so filenames containing ``@`` keep working."""
    time_travel: int | None = None
    m = re.match(r"^(.*)@(\d+)$", path)
    if m and not os.path.exists(path):
        base = m.group(1)
        if os.path.isdir(os.path.join(base, "_delta_log")) or (
            os.path.isdir(os.path.join(base, "metadata")) and any(
                f.endswith(".metadata.json")
                for f in os.listdir(os.path.join(base, "metadata")))):
            path, time_travel = base, int(m.group(2))
    scheme = path.split("://", 1)[0].lower() if "://" in path else None
    if scheme in ("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasbs", "oss"):
        # cloud object stores (reference TODO.md:43 "Add s3 support"):
        # Spark reads these natively WHEN the filesystem connector jar is
        # deployed (hadoop-aws / gcs-connector / hadoop-azure) — probe for
        # it and fail with the fix named instead of a Java stack trace
        fs_class = {
            "s3": "org.apache.hadoop.fs.s3a.S3AFileSystem",
            "s3a": "org.apache.hadoop.fs.s3a.S3AFileSystem",
            "s3n": "org.apache.hadoop.fs.s3a.S3AFileSystem",
            "gs": "com.google.cloud.hadoop.fs.gcs.GoogleHadoopFileSystem",
            "abfs": "org.apache.hadoop.fs.azurebfs.AzureBlobFileSystem",
            "abfss": "org.apache.hadoop.fs.azurebfs.SecureAzureBlobFileSystem",
            "wasbs": "org.apache.hadoop.fs.azure.NativeAzureFileSystem",
            "oss": "org.apache.hadoop.fs.aliyun.oss.AliyunOSSFileSystem",
        }[scheme]
        try:
            spark._jvm.java.lang.Class.forName(fs_class)  # noqa: SLF001
        except Exception:
            raise SourceError(
                f"{scheme}:// paths need the {fs_class.split('.')[-1]} "
                f"connector on the Spark classpath (deploy the jar "
                f"providing {fs_class} plus credentials); not present in "
                "this environment") from None
    if fmt is None and os.path.isdir(os.path.join(path, "_delta_log")):
        fmt = "delta"  # delta tables are directories marked by their log
    if fmt is None and os.path.isdir(os.path.join(path, "metadata")) and any(
        f.endswith(".metadata.json")
        for f in os.listdir(os.path.join(path, "metadata"))
    ):
        fmt = "iceberg"  # iceberg tables carry their metadata dir
    fmt = fmt or infer_format(path)
    if fmt is None:
        raise SourceError(f"cannot infer format of {path!r}")
    if time_travel is not None and fmt not in ("delta", "iceberg"):
        raise SourceError(
            f"@{time_travel} time travel applies to delta/iceberg "
            f"tables, not {fmt!r}")
    if schema is not None and fmt not in ("csv", "json"):
        raise SourceError(
            f"--schema applies to csv/ndjson sources, not {fmt!r} "
            "(self-describing formats carry their own)")
    if fmt == "csv":
        if schema is not None:
            return (spark.read.option("header", "true").schema(schema)
                    .option("timestampFormat",
                            "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]")
                    .csv(path))
        # reference infers CSV schemas (datafusion.rs:39, duckdb read_csv_auto)
        return (spark.read.option("header", "true").option("inferSchema", "true")
                .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]")
                .csv(path))
    if fmt == "json":
        if schema is not None:
            return spark.read.schema(schema).json(path)
        return spark.read.json(path)  # NDJSON is Spark's default JSON framing
    if fmt == "parquet":
        return load_parquet(spark, path)
    if fmt == "avro":
        # the reference declares avro but panics unimplemented on use
        # (src/main.rs:25, datafusion.rs:47-49).  Here the scan is LIVE in
        # every environment: spark-avro when the jar is deployed, else the
        # pure-Python object-container decoder (engine/avro.py) running
        # distributed inside mapInPandas — the deltalog/pgwire pattern
        try:
            return spark.read.format("avro").load(path)
        except Exception:
            from prql_query_spark.engine.avro import read_avro

            return read_avro(spark, path)
    if fmt == "orc":  # beyond reference parity: columnar ORC scan
        return spark.read.orc(path)
    if fmt == "xml":  # beyond reference parity: built-in XML source (Spark 4)
        return spark.read.option("rowTag", "row").format("xml").load(path)
    if fmt == "delta":
        # prefer the connector when its jar is deployed (full protocol
        # support); otherwise fall back to the pure-Python transaction-log
        # reader (engine/deltalog.py) — the pgwire pattern: stay live in
        # every environment, and fail loudly only on protocol features
        # the fallback cannot honor (deletion vectors / column mapping)
        try:
            r = spark.read.format("delta")
            if time_travel is not None:
                r = r.option("versionAsOf", time_travel)
            return r.load(path)
        except Exception:
            from prql_query_spark.engine.deltalog import read_delta_snapshot

            return read_delta_snapshot(spark, path, version=time_travel)
    if fmt == "iceberg":
        # connector jar when deployed (full feature surface); otherwise
        # the pure-Python snapshot reader (engine/iceberg.py — metadata
        # JSON + Avro manifests + parquet scans with identity-partition
        # pruning and v2 positional-delete merge-on-read; unsupported
        # features error loudly)
        try:
            r = spark.read.format("iceberg")
            if time_travel is not None:
                r = r.option("snapshot-id", time_travel)
            return r.load(path)
        except Exception:
            from prql_query_spark.engine.iceberg import read_iceberg

            return read_iceberg(spark, path, snapshot_id=time_travel)
    raise SourceError(f"unsupported format {fmt!r}")


def register_sources(spark: SparkSession, sources: list[str],
                     schema: str | None = None) -> list[str]:
    """Register each `alias=path` (or bare path) as a temp view.

    Returns the table names in order, a passthrough table's included; the
    last name drives auto-`from` insertion (reference main.rs:146-148 uses
    sources.last()).
    schema: optional DDL applied to every csv/ndjson source (--schema).
    Self-describing sources in the same list (parquet, avro, delta, ...)
    are unaffected — a csv joined against a parquet is the normal case —
    but if NO listed source can take the schema, fail loudly instead of
    silently ignoring the flag.
    """
    out: list[str] = []
    schema_used = False
    for name, path in standardise_sources(sources):
        if path is not None:
            fmt = infer_format(path)
            src_schema = schema if fmt in ("csv", "json") else None
            schema_used = schema_used or src_schema is not None
            read_source(spark, path, fmt, schema=src_schema
                        ).createOrReplaceTempView(name)
        out.append(name)
    if schema is not None and not schema_used:
        raise SourceError(
            "--schema supplied but no csv/ndjson source in the list "
            "(self-describing formats carry their own)")
    return out


def _arrow_list_field(arrow_schema, name: str):
    """Spark field for a parquet LIST column whose element is a primitive,
    via the arrow schema (None when not that shape).  Element nullability
    maps to containsNull, list nullability is True like every file column."""
    import pyarrow as pa
    from pyspark.sql import types as T

    prim = {
        pa.bool_(): T.BooleanType(), pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(), pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(), pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(), pa.string(): T.StringType(),
        pa.large_string(): T.StringType(), pa.binary(): T.BinaryType(),
        pa.date32(): T.DateType(),
    }
    try:
        f = arrow_schema.field(name)
    except KeyError:
        return None
    if not pa.types.is_list(f.type) and not pa.types.is_large_list(f.type):
        return None
    elem = f.type.value_field
    if elem.type not in prim:
        return None
    return T.StructField(
        name, T.ArrayType(prim[elem.type], elem.nullable), True)


def _spark_schema_from_footer(meta_schema, arrow_schema=None) -> "object | None":
    """Spark StructType equivalent to what spark.read.parquet would INFER
    from this footer, built driver-side from the pyarrow metadata — or
    None when any column is not provably inference-identical.

    Why: `spark.read.parquet(path)` spends ~60-70 ms per call resolving
    the schema through the JVM DataSource machinery (measured at sf0.1;
    the footer itself reads in ~0.1 ms via pyarrow).  Extension operators
    load their tables per invocation, so that cost is a per-query driver
    floor (guide §5: the driver should do almost no work).  Passing the
    schema explicitly skips inference ONLY — listing, pruning, pushdown
    and the scan node are unchanged.

    Conservative by construction: every conversion below is the exact
    mapping Spark's ParquetSchemaConverter applies for flat (non-INT96,
    non-nested) footers; anything else returns None and the caller falls
    back to JVM inference.  Nullability is forced True, matching parquet
    inference (Spark marks every file-sourced column nullable).
    """
    from pyspark.sql import types as T

    simple = {
        ("BOOLEAN", "NONE"): T.BooleanType(),
        ("INT32", "NONE"): T.IntegerType(),
        ("INT64", "NONE"): T.LongType(),
        ("FLOAT", "NONE"): T.FloatType(),
        ("DOUBLE", "NONE"): T.DoubleType(),
        ("BYTE_ARRAY", "STRING"): T.StringType(),
        ("BYTE_ARRAY", "NONE"): T.BinaryType(),
        ("INT32", "DATE"): T.DateType(),
    }
    int_widths = {8: T.ByteType(), 16: T.ShortType(),
                  32: T.IntegerType(), 64: T.LongType()}
    fields = []
    done_lists: set[str] = set()
    for i in range(len(meta_schema)):
        c = meta_schema.column(i)
        if c.max_repetition_level != 0 or "." in c.path:
            # one safe nested shape: LIST of a primitive (leaf path
            # "name.list.element", repetition level 1) via the arrow schema
            outer = c.path.split(".")[0]
            if (arrow_schema is not None and c.max_repetition_level == 1
                    and c.path == f"{outer}.list.element"
                    and outer not in done_lists):
                lf = _arrow_list_field(arrow_schema, outer)
                if lf is not None:
                    fields.append(lf)
                    done_lists.add(outer)
                    continue
            return None  # other nested/repeated: bail to JVM inference
        # pyarrow renders logical annotations like
        # "Timestamp(isAdjustedToUTC=true, timeUnit=microseconds, ...)",
        # "Int(bitWidth=16, isSigned=true)", "Decimal(precision=10, scale=2)"
        logical = str(c.logical_type).upper().replace(" ", "")
        key = (c.physical_type, logical)
        if key in simple:
            fields.append(T.StructField(c.name, simple[key], True))
            continue
        if logical.startswith("TIMESTAMP") and c.physical_type == "INT64":
            if "NANOSECONDS" in logical:
                return None  # ns needs the legacy-long path; let caller infer
            ts = (T.TimestampType() if "ISADJUSTEDTOUTC=TRUE" in logical
                  else T.TimestampNTZType())
            fields.append(T.StructField(c.name, ts, True))
            continue
        if logical.startswith("INT(") and "ISSIGNED=TRUE" in logical:
            m = re.search(r"BITWIDTH=(\d+)", logical)
            if m and int(m.group(1)) in int_widths and c.physical_type in (
                    "INT32", "INT64"):
                fields.append(T.StructField(
                    c.name, int_widths[int(m.group(1))], True))
                continue
            return None
        if logical.startswith("DECIMAL"):
            m = re.search(r"PRECISION=(\d+),SCALE=(-?\d+)", logical)
            if m:
                fields.append(T.StructField(
                    c.name,
                    T.DecimalType(int(m.group(1)), int(m.group(2))), True))
                continue
            return None
        return None  # INT96, unsigned ints, enums, ...: JVM inference
    return T.StructType(fields)


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet load that tolerates nanosecond timestamps.

    Spark's reader rejects INT64 TIMESTAMP(NANOS) outright; with the
    `nanosAsLong` legacy conf it reads them as long epoch-nanos.  We detect
    ns-timestamp columns from the footer (pyarrow) and convert with *integer*
    division (`div 1000`) — float division would lose precision above 2^53.

    The same footer read feeds the explicit-schema fast path
    (_spark_schema_from_footer): schema resolution through pyarrow costs
    ~0.1 ms vs ~60-70 ms through the JVM DataSource machinery, a per-call
    driver constant every extension operator otherwise pays on every
    invocation.  Fast path applies only when the footer is provably
    inference-identical; otherwise this falls back to JVM inference
    (pinned by tests/test_sources_schema_fastpath.py over every testdata
    table and the non-flat fixtures).
    """
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ns_cols: list[str] = []
    spark_schema = None
    probe = path
    if os.path.isdir(path):
        # directory dataset (partitioned write, stream source dir): probe the
        # first parquet footer found — one file's schema speaks for the set
        for root, _, files in sorted(os.walk(path)):
            pf = sorted(f for f in files if f.endswith(".parquet"))
            if pf:
                probe = os.path.join(root, pf[0])
                break
        dir_probe = True
    else:
        dir_probe = False
    try:
        if "://" in path:
            raise OSError("remote footers are left to Spark")
        pf = pq.ParquetFile(probe)
        meta = pf.metadata.schema
        for i in range(len(meta)):
            c = meta.column(i)
            # Only INT64 TIMESTAMP(NANOS) needs the legacy-long workaround.
            # INT96 (Spark's own default output) also surfaces as ns in the
            # *arrow* schema but Spark reads it natively — must not convert.
            if c.physical_type == "INT64" and "nanoseconds" in str(c.logical_type):
                ns_cols.append(c.name)
        if not ns_cols and not dir_probe:
            # single-file source: the probed footer IS the dataset schema.
            # (directory datasets keep JVM inference — partition-column
            # discovery from paths is beyond the footer.)
            spark_schema = _spark_schema_from_footer(meta, pf.schema_arrow)
    except Exception:
        pass
    if spark_schema is not None and any(
            isinstance(f.dataType, T.TimestampNTZType) for f in spark_schema):
        # isAdjustedToUTC=false timestamps infer as TIMESTAMP_NTZ only while
        # spark.sql.parquet.inferTimestampNTZ.enabled holds (the default);
        # with it off the JVM's inference decides
        conf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
        if not conf.parquetInferTimestampNTZEnabled():
            spark_schema = None
    if ns_cols:
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    if spark_schema is not None:
        df = spark.read.schema(spark_schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def needs_auto_from(query: str) -> bool:
    """Reference quirk: naive substring check (main.rs:146) — replicated
    bug-for-bug, SURVEY.md Appendix A."""
    return "from" not in query


def auto_from(query: str, last_source: str) -> str:
    if needs_auto_from(query):
        return f"from `{last_source}` | {query}"
    return query
