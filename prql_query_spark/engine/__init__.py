"""High-level engine facade: sources -> PRQL -> Spark DataFrame."""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from prql_query_spark.compiler import compile_prql
from prql_query_spark.engine.session import get_spark
from prql_query_spark.engine.sources import (
    auto_from,
    register_sources,
    source_catalog,
)

__all__ = ["PrqlEngine", "get_spark", "register_sources"]


class PrqlEngine:
    """Equivalent of the reference's backend::query entry points
    (/root/reference/src/backends/datafusion.rs:18, duckdb.rs:20), on Spark.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        # view name -> (path, registered DataFrame), latest registration
        # last; both None for a passthrough table that already exists
        self.sources: dict[str, tuple[str | None, DataFrame | None]] = {}

    def add_sources(self, sources: list[str], schema: str | None = None) -> None:
        for name, path, df in register_sources(self.spark, sources, schema=schema):
            self.sources.pop(name, None)
            self.sources[name] = (path, df)

    def catalog(self) -> dict[str, dict]:
        """`compile_prql` catalog keywords for the registered sources
        (sources.source_catalog).  Columns come from the DataFrames
        registration built; a passthrough table is looked up in the
        session catalog and skipped when absent."""
        tables = []
        for name, (path, df) in self.sources.items():
            if df is None:
                try:
                    df = self.spark.table(name)
                except AnalysisException:
                    continue
            tables.append((name, path, df.columns))
        return source_catalog(tables)

    def query(self, prql: str) -> DataFrame:
        if self.sources:
            prql = auto_from(prql, list(self.sources)[-1])
        return self.spark.sql(
            compile_prql(prql, dialect="spark", **self.catalog()))

    def sql(self, sql: str) -> DataFrame:
        """Raw-SQL mode (`--sql`, reference main.rs:75-77)."""
        return self.spark.sql(sql)
