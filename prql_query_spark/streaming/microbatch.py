"""The micro-batch I/O path every stream in this package shares.

Source: `file_stream` is the one parquet file-stream reader.  It reads
the same files the batch path reads (`engine.sources.load_parquet`), so
INT64 TIMESTAMP(NANOS) columns and bare files work on a stream exactly as
they do in batch.

Sink: `write_batch` is the one exactly-once parquet sink.  Each micro-batch
overwrites only its own `_batch_id=<id>` partition (dynamic
partitionOverwriteMode), so a batch replayed after a crash rewrites the
same files instead of duplicating rows: the checkpoint's batch ids are the
transaction log (`start_batches`).  A batch whose frame is empty writes
nothing and leaves an existing partition intact, so a replay that rejects
everything it already accepted keeps the earlier output.  `batch_ids` and
`read_batches` are the read side of the same layout.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

BATCH_COL = "_batch_id"


def file_stream(spark: SparkSession, path: str,
                max_files_per_trigger: int | None = None) -> DataFrame:
    """readStream over a parquet file or directory, typed as the batch read
    of the same path.

    `load_parquet` runs first: it switches INT64 TIMESTAMP(NANOS) columns
    to the nanosAsLong read, and the stream mirrors its `div 1000`
    conversion so those columns arrive as TIMESTAMP.  It must see the bare
    file, so the pyarrow footer probe can.  FileStreamSource needs a
    directory, so a bare file is wrapped in a symlink dir.  The dir is
    one per absolute file path, the same on every start: a checkpoint
    records the source dir, and a restart must find the one it
    recorded.  ``max_files_per_trigger`` caps the files per micro-batch
    when set."""
    import hashlib
    import tempfile

    from prql_query_spark.engine.sources import load_parquet

    batch = load_parquet(spark, path)
    raw_schema = spark.read.parquet(path).schema
    if os.path.isfile(path):
        path = os.path.abspath(path)
        d = os.path.join(tempfile.gettempdir(), "pq_stream",
                         hashlib.sha1(path.encode()).hexdigest()[:16])
        os.makedirs(d, exist_ok=True)
        try:
            os.symlink(path, os.path.join(d, os.path.basename(path)))
        except FileExistsError:
            pass
        path = d
    reader = spark.readStream.schema(raw_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(path)
    for field in batch.schema.fields:
        if (isinstance(field.dataType, TimestampType)
                and raw_schema[field.name].dataType != field.dataType):
            stream = stream.withColumn(field.name, F.timestamp_micros(
                F.expr(f"`{field.name}` div 1000")))
    return stream


def start_batches(stream: DataFrame, fn, checkpoint: str, queryName: str):
    """Start ``fn(batch_df, batch_id)`` on every micro-batch of ``stream``
    (append mode); returns the started StreamingQuery."""
    return (
        stream.writeStream.foreachBatch(fn)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .queryName(queryName)
        .start()
    )


def write_batch(df: DataFrame, batch_id: int, path: str) -> None:
    """Write ``df`` as the `_batch_id=<batch_id>` partition of ``path``,
    replacing only that partition (see the module docstring)."""
    (
        df.withColumn(BATCH_COL, F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(path)
    )


def batch_ids(path: str) -> set[int]:
    """The `_batch_id` partition ids present under a sink directory (empty
    set when the directory is missing): one listdir, the unit of the
    sidecar completeness check and of repair."""
    if not os.path.isdir(path):
        return set()
    out = set()
    for f in os.listdir(path):
        if f.startswith(BATCH_COL + "="):
            try:
                out.add(int(f.split("=", 1)[1]))
            except ValueError:
                pass
    return out


def read_batches(spark: SparkSession, path: str, before: int | None = None,
                 only: int | None = None) -> DataFrame:
    """Read a `write_batch` sink back as a plain table, the bookkeeping
    column dropped.  ``before`` keeps only batches with a smaller id,
    ``only`` keeps one batch; both filters prune partitions."""
    df = spark.read.parquet(path)
    if before is not None:
        df = df.filter(F.col(BATCH_COL) < before)
    if only is not None:
        df = df.filter(F.col(BATCH_COL) == only)
    return df.drop(BATCH_COL)
