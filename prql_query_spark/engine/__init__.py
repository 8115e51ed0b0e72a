"""High-level engine facade: sources -> PRQL -> Spark DataFrame."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from prql_query_spark.compiler import compile_prql
from prql_query_spark.engine.session import get_spark
from prql_query_spark.engine.sources import auto_from, register_sources

__all__ = ["PrqlEngine", "get_spark", "register_sources"]


class PrqlEngine:
    """Equivalent of the reference's backend::query entry points
    (/root/reference/src/backends/datafusion.rs:18, duckdb.rs:20), on Spark.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        # last registered view name, the auto-`from` target
        self.last: str | None = None

    def add_sources(self, sources: list[str], schema: str | None = None) -> None:
        names = register_sources(self.spark, sources, schema=schema)
        if names:
            self.last = names[-1]

    def query(self, prql: str) -> DataFrame:
        if self.last:
            prql = auto_from(prql, self.last)
        return self.spark.sql(compile_prql(prql, dialect="spark"))

    def sql(self, sql: str) -> DataFrame:
        """Raw-SQL mode (`--sql`, reference main.rs:75-77)."""
        return self.spark.sql(sql)
