"""The load_parquet explicit-schema fast path (round 12, guide §5) must be
inference-identical: for every testdata table the footer-derived schema
equals what spark.read.parquet would infer, and anything the converter
cannot prove falls back to JVM inference (returns None)."""

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from prql_query_spark.engine import sources as S

SF_DIRS = [d for d in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                       "/root/testdata/sf0.1") if os.path.isdir(d)]
ALL_TABLES = sorted(p for d in SF_DIRS for p in glob.glob(d + "/*.parquet"))


@pytest.mark.parametrize("path", ALL_TABLES,
                         ids=[p.split("testdata/")[-1] for p in ALL_TABLES])
def test_fastpath_schema_matches_inference(spark, path):
    pf = pq.ParquetFile(path)
    fast = S._spark_schema_from_footer(pf.metadata.schema, pf.schema_arrow)
    assert fast is not None, f"fast path unexpectedly bailed for {path}"
    assert fast == spark.read.parquet(path).schema


def test_fastpath_covers_all_driver_tables():
    """Every driver table must take the fast path — a silent fallback would
    quietly reintroduce the ~60-70 ms/call JVM inference cost."""
    assert len(ALL_TABLES) >= 30


def test_fastpath_bails_on_structs(tmp_path, spark):
    p = str(tmp_path / "nested.parquet")
    t = pa.table({"s": [{"a": 1}, {"a": 2}]})
    pq.write_table(t, p)
    pf = pq.ParquetFile(p)
    fast = S._spark_schema_from_footer(pf.metadata.schema, pf.schema_arrow)
    assert fast is None
    # and load_parquet still reads it correctly via the fallback
    assert S.load_parquet(spark, p).count() == 2


def test_fastpath_list_columns(tmp_path, spark):
    p = str(tmp_path / "vecs.parquet")
    t = pa.table({"vec_id": [1, 2], "embedding": [[1.0, 2.0], [3.0, 4.0]]})
    pq.write_table(t, p)
    pf = pq.ParquetFile(p)
    fast = S._spark_schema_from_footer(pf.metadata.schema, pf.schema_arrow)
    assert fast == spark.read.parquet(p).schema
    rows = S.load_parquet(spark, p).orderBy("vec_id").collect()
    assert [list(r.embedding) for r in rows] == [[1.0, 2.0], [3.0, 4.0]]


def test_fastpath_ns_timestamps_keep_legacy_path(tmp_path, spark):
    """INT64 TIMESTAMP(NANOS) must keep the nanosAsLong workaround, not the
    explicit-schema path."""
    import datetime

    p = str(tmp_path / "ns.parquet")
    t = pa.table({"ts": pa.array([datetime.datetime(2030, 1, 2, 3, 4, 5)],
                                 type=pa.timestamp("ns"))})
    pq.write_table(t, p)
    df = S.load_parquet(spark, p)
    assert [str(r.ts) for r in df.collect()] == ["2030-01-02 03:04:05"]


@pytest.mark.parametrize("ntz", ["false", "true"])
def test_fastpath_honours_infer_timestamp_ntz(spark, ntz):
    """isAdjustedToUTC=false timestamps (events.ts) type as TIMESTAMP_NTZ
    only while spark.sql.parquet.inferTimestampNTZ.enabled holds; with it
    off the footer path must agree with JVM inference (TimestampType)."""
    path = os.path.join(SF_DIRS[0], "events.parquet")
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, ntz)
    try:
        assert S.load_parquet(spark, path).schema == \
            spark.read.parquet(path).schema
    finally:
        spark.conf.unset(key)
