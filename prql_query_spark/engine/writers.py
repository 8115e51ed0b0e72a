"""Output writers mirroring the reference's four sinks
(/root/reference/src/backends/datafusion.rs:78-132): pretty table to stdout,
CSV, NDJSON, Parquet.

Two modes, matching `--writer arrow|backend` (main.rs:63-72):
  * single-file "arrow parity" mode — collect to the driver via Arrow and
    write ONE file, byte-compatible with the reference's CLI behavior.  Only
    for CLI-sized results (the reference itself collects everything,
    datafusion.rs:57).
  * distributed "backend" mode — `df.write.*`, stays on executors; the right
    mode at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_pretty(df: DataFrame, n: int | None = None) -> str:
    """Markdown-ish table like arrow::pretty_format_batches (datafusion.rs:129).

    Prints EVERY collected row by default, matching the reference, which
    pretty-formats all batches with no cap (datafusion.rs:128-132).  Pass
    ``n`` to cap explicitly (e.g. interactive previews).
    """
    rows = (df.limit(n) if n is not None else df).collect()
    cols = df.columns
    cells = [[_fmt(r[c]) for c in cols] for r in rows]
    widths = [max(len(c), *(len(row[i]) for row in cells)) if cells else len(c)
              for i, c in enumerate(cols)]
    sep = "+" + "+".join("-" * (w + 2) for w in widths) + "+"
    out = [sep, "|" + "|".join(f" {c:<{w}} " for c, w in zip(cols, widths)) + "|", sep]
    for row in cells:
        out.append("|" + "|".join(f" {v:<{w}} " for v, w in zip(row, widths)) + "|")
    out.append(sep)
    return "\n".join(out)


def _fmt(v) -> str:
    if v is None:
        return ""
    return str(v)


def write_single_file(df: DataFrame, path: str, fmt: str) -> None:
    """Arrow-writer parity: one output file via driver collect (CLI mode)."""
    import pyarrow.csv as pacsv
    import pyarrow.parquet as papq

    if fmt == "table":  # the pretty table stdout gets
        with open(path, "w", encoding="utf-8") as f:
            f.write(write_pretty(df) + "\n")
        return
    tbl = df.toArrow()
    if fmt == "parquet":
        papq.write_table(tbl, path)
    elif fmt == "csv":
        pacsv.write_csv(tbl, path)
    elif fmt == "json":
        with open(path, "w", encoding="utf-8") as f:
            for batch in tbl.to_batches():
                for row in batch.to_pylist():
                    import json

                    f.write(json.dumps(row, default=str, ensure_ascii=False) + "\n")
    else:
        raise ValueError(f"unsupported single-file format {fmt!r}")


def write_distributed(
    df: DataFrame, path: str, fmt: str, mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Scale path: executors write in parallel, no driver materialization.

    ``partition_by`` partitions the sink: hive layout (via
    `write_partitioned`'s one-writer-per-partition staging) for the
    file formats, the Delta log's partitionColumns for delta, and the
    identity partition spec + manifest partition values for iceberg
    (which is what `read_iceberg(where=...)` prunes against).  Formats
    without a partition concept (xml's single rowTag stream) refuse
    loudly."""
    if partition_by and fmt in ("csv", "json", "parquet", "orc"):
        write_partitioned(df, path, list(partition_by), fmt, mode)
        return
    if partition_by and fmt not in ("delta", "iceberg"):
        raise ValueError(
            f"--partition-by is not supported for the {fmt!r} sink")
    w = df.write.mode(mode)
    if fmt == "csv":
        w.option("header", "true").csv(path)
    elif fmt == "json":
        w.json(path)
    elif fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        w.orc(path)
    elif fmt == "xml":
        w.option("rowTag", "row").format("xml").save(path)
    elif fmt == "delta":
        # transactional sink; works with or without the connector jar
        try:
            if partition_by:
                w = w.partitionBy(*partition_by)
            w.format("delta").save(path)
        except Exception:
            from prql_query_spark.engine.deltalog import write_delta

            write_delta(df, path, mode=mode,
                        partition_by=list(partition_by or []) or None)
    elif fmt == "iceberg":
        # jar-less v2 table (engine/iceberg.py): overwrite commits a
        # delete-by-replace snapshot (creating the table when absent —
        # so a re-run of the same sink replaces content with the prior
        # snapshot still time-travelable, matching the delta sink's
        # semantics); mode="append" adds a snapshot.  With the
        # connector deployed, `--to catalog.table` via Spark SQL is the
        # full-service path — this sink covers the path-based case.
        # An existing table's declared partitioning is inherited;
        # partition_by on a fresh table declares the identity spec.
        from prql_query_spark.engine.iceberg import write_iceberg

        write_iceberg(df, path,
                      mode="append" if mode == "append" else "overwrite",
                      partition_by=(list(partition_by)
                                    if partition_by else None))
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    sort_within: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Hive-layout dataset sink (`path/col=value/...`) — the 100 TB layout:
    a filter on a partition column prunes whole directories at plan time
    (PartitionFilters in the scan, zero I/O for pruned values).

    Scale guards baked in:
      * repartition ON the partition columns first — naive
        `write.partitionBy` makes every task write a file into every
        partition directory (tasks × partitions small files, the classic
        layout killer); repartitioning first gives one writer per partition.
      * optional `sort_within` orders rows inside each file so parquet
        row-group min/max stats skip within the partition too.
      * `maxRecordsPerFile` caps file size where one partition is huge
        (skewed partition values).
    """
    out = df.repartition(*[df[c] for c in partition_cols])
    if sort_within:
        out = out.sortWithinPartitions(*sort_within)
    w = out.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    if fmt == "parquet":
        w.parquet(path)
    elif fmt == "orc":
        w.orc(path)
    elif fmt == "csv":
        w.option("header", "true").csv(path)
    elif fmt == "json":
        w.json(path)
    else:
        raise ValueError(f"unsupported partitioned format {fmt!r}")
